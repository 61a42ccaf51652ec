package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.pipeline.{AirbnbPipeline, Datamart, Refresh}

/** One benchmark run in one fresh JVM: start the session, set up the
  * workload, run it as one closed-loop client for `--seconds`, check
  * every output, and write the result JSON to `--out`.
  *
  *   perfbench.Main --workload batch_build|refresh_ticks|operator_suite
  *     --seconds S --trace 0|1 --cores N --input DIR --work DIR --out FILE
  *     --seed N --queries a,b,c --pins FILE
  *
  * Launch it through perfbench/run.py, which builds it, generates the
  * inputs and sets the JVM flags. */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean, cores: Int,
                        input: String, work: String, out: String, seed: Long,
                        queries: Seq[String], pins: String)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** What a workload hands back: operation walls (the first is the cold
    * one), set-up walls, problems found, and workload-specific facts. */
  final class Outcome {
    val walls = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val setup = mutable.ArrayBuffer.empty[Double]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    var cold = 0.0
    var p50 = 0.0
    var p75 = 0.0
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val details = mutable.LinkedHashMap.empty[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seconds").toDouble, kv("trace") == "1", kv("cores").toInt,
      kv("input"), kv("work"), kv("out"), kv("seed").toLong,
      kv("queries").split(',').toSeq.filter(_.nonEmpty), kv("pins"))
    Files.createDirectories(Paths.get(a.work))
    val t0 = System.nanoTime()
    val spark = Session.start(a.cores, Paths.get(a.work, "warehouse").toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark, a.cores)
    val o = new Outcome
    try a.workload match {
      case "batch_build" => batchBuild(spark, a, trace, o)
      case "refresh_ticks" => refreshTicks(spark, a, trace, o)
      case "operator_suite" => operatorSuite(spark, a, trace, o)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        o.problems += s"run aborted: $e"
        o.failed += 1
        o.attempted = math.max(o.attempted, o.failed)
        e.printStackTrace()
    }
    val setupS = sessionS + (if (o.setup.isEmpty) 0.0 else Stats.median(o.setup.toSeq))
    if (a.trace) {
      trace.setActive(false)
      val (values, exact, varying) = trace.summary()
      // the layer counters under the names the benchmark reports them by
      o.layers ++= values.map {
        case (k, v) if k.startsWith("ops.") && k.endsWith(".plan.jobs") =>
          k.stripSuffix(".plan.jobs") + ".plan_jobs" -> v
        case ("refresh.tick.output_mb", v) => "refresh.tick.bytes_written_mb" -> v
        case kv => kv
      }
      o.layers("trace.overhead_s") =
        if (o.tracedWalls.isEmpty || o.untracedWalls.isEmpty) 0.0
        else Stats.median(o.tracedWalls.toSeq) - Stats.median(o.untracedWalls.toSeq)
      o.layers("trace.exact_counters") = exact.length
      o.layers("trace.varying_counters") = varying.length
      o.details("exact_counters") = exact
      o.details("varying_counters") = varying
      o.details("spans") = trace.spanRecords
    }
    val result = ListMap[String, Any](
      "workload" -> a.workload,
      "trace" -> a.trace,
      "correct" -> (o.problems.isEmpty && o.failed == 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "problems" -> o.problems.take(20),
      "end_to_end" -> ListMap("setup_s" -> setupS, "cold_s" -> o.cold, "op_p50_s" -> o.p50),
      "per_layer" -> o.layers,
      "session_start_s" -> sessionS,
      "setup_samples_s" -> o.setup,
      "op_samples_s" -> o.walls,
      "op_p75_s" -> o.p75,
      "env" -> Session.describe(a.cores)) ++ o.details
    Files.write(Paths.get(a.out), (json.writeValueAsString(result) + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def now: Long = System.nanoTime()

  /** Untimed, before each timed operation: collect the previous one's
    * garbage and pause briefly, so its leftovers (GC, background JIT
    * compilation) compete less with the next one for the cores. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }
  private def secs(from: Long): Double = (now - from) / 1e9

  /** Memory plus disk held by cached blocks, from the storage status. */
  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Collect each view under its own span inside one `datamart` span. */
  private def materializeViews(trace: Trace, views: Seq[(String, DataFrame)])
      : Seq[(String, Array[Row])] =
    trace.span("datamart") {
      views.map { case (n, df) => n -> trace.span(s"datamart.$n")(df.collect()) }
    }

  private def viewsOf(fact: DataFrame): Seq[(String, DataFrame)] = Seq(
    "kpi_neighbourhood_month" -> Datamart.kpiNeighbourhoodMonth(fact, "neighbourhood_lga"),
    "kpi_neighbourhood_month_raw" -> Datamart.kpiNeighbourhoodMonth(fact, "neighbourhood_cleansed"),
    "kpi_property_type_month" -> Datamart.kpiPropertyTypeMonth(fact),
    "kpi_host_month" -> Datamart.kpiHostMonth(fact))

  private def viewsOf(t: AirbnbPipeline.Tables): Seq[(String, DataFrame)] = Seq(
    "kpi_neighbourhood_month" -> t.kpiNeighbourhoodMonth,
    "kpi_neighbourhood_month_raw" -> t.kpiNeighbourhoodMonthRaw,
    "kpi_property_type_month" -> t.kpiPropertyTypeMonth,
    "kpi_host_month" -> t.kpiHostMonth)

  /** The generator's record of a corpus: row counts and files. */
  private def corpusCounts(dir: String): JsonNode =
    json.readTree(Paths.get(dir, "counts.json").toFile)

  /** Pass schedule of a traced run: even passes traced (pass 0 is the
    * cold one), odd passes untraced. Four passes (T U T U) yield the
    * per-layer counters, their repeatability (passes 0 and 2), and the
    * tracing overhead as pass 2 against the mean of passes 1 and 3, so
    * the warm-up drift of the first warm passes falls on both sides. */
  private def tracedPass(a: Args, pass: Int): Boolean = a.trace && pass % 2 == 0

  /** Passes a run makes at least, the cold one included: batch builds
    * (the cold one and a warm one), refresh cycles (only a cycle's first
    * tick is cold), suite passes (the checking warm-up and three timed
    * ones). A traced run makes four, or three refresh cycles (whose ticks
    * alternate; see refreshTicks), or five suite passes (the warm-up is
    * not compared with the timed ones; see operatorSuite). */
  private val minPasses = Map("batch_build" -> 2, "refresh_ticks" -> 1, "operator_suite" -> 4)
  private val tracedPasses = Map("batch_build" -> 4, "refresh_ticks" -> 3, "operator_suite" -> 5)

  private def recordWall(a: Args, o: Outcome, pass: Int, wall: Double,
                         traced: Boolean): Unit = {
    o.walls += wall
    if (a.trace && pass > 0) (if (traced) o.tracedWalls else o.untracedWalls) += wall
  }

  /** Passes continue until the time is up, and at least until the
    * workload's minimum of them ran. */
  private def more(a: Args, start: Long, done: Int): Boolean =
    done < (if (a.trace) tracedPasses else minPasses)(a.workload) || secs(start) < a.seconds

  private def finishLatency(o: Outcome): Unit = {
    val warm = o.walls.drop(1).toSeq
    o.cold = o.walls.head
    o.p50 = Stats.median(warm)
    o.p75 = Stats.quantile(warm, 0.75)
  }

  // ---------------------------------------------------------------- batch

  /** raw CSVs -> staging -> fact -> four KPI views, first cold, then warm
    * builds after clearCache in the same session. */
  def batchBuild(spark: SparkSession, a: Args, trace: Trace, o: Outcome): Unit = {
    val exp = Gates.loadExpected(Paths.get(a.input, "expected.tsv").toString)
    val counts = corpusCounts(a.input)
    def count(k: String): Long = counts.get(k).asLong
    val rawRows = count("raw_rows")
    val staged0 = rawRows - count("dups")
    val fact0 = staged0 - count("null_price") - count("null_host") - count("out_of_month")
    var stagingMb, totalMb = 0.0
    def build(pass: Int): Unit = {
      trace.pass = pass
      trace.setActive(tracedPass(a, pass))
      settle()
      val t0 = now
      val t = trace.span("ingest.plan")(AirbnbPipeline.run(spark, a.input))
      val staged = trace.span("staging")(t.stagingListing.count())
      stagingMb = cachedMb(spark)
      val fact = trace.span("warehouse")(t.factListing.count())
      val views = materializeViews(trace, viewsOf(t))
      val wall = secs(t0)
      totalMb = cachedMb(spark)
      val problems = Gates.checkViews(exp, views) ++
        (if (staged != staged0) Seq(s"staged $staged rows, expected raw $rawRows - dups") else Nil) ++
        (if (fact != fact0) Seq(s"fact $fact rows, expected staged $staged0 - drops") else Nil)
      spark.catalog.clearCache()
      o.attempted += 1
      if (problems.nonEmpty) { o.failed += 1; o.problems ++= problems }
      recordWall(a, o, pass, wall, tracedPass(a, pass))
    }
    val start = now
    build(0)
    var pass = 1
    while (more(a, start, pass)) { build(pass); pass += 1 }
    finishLatency(o)
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e6
    o.layers ++= Seq("staging.rows_in" -> rawRows.toDouble, "staging.rows_out" -> staged0.toDouble,
      "warehouse.rows_in" -> staged0.toDouble, "warehouse.rows_out" -> fact0.toDouble,
      "staging.cached_mb" -> stagingMb, "warehouse.cached_mb" -> (totalMb - stagingMb))
    o.details ++= Seq(
      "build_cold_s" -> o.cold,
      "build_warm_p50_s" -> o.p50,
      "build_warm_rows_per_s" -> rawRows / o.p50,
      "cached_mb" -> totalMb,
      "storage_memory_mb" -> storageMb,
      "corpus_raw_rows" -> rawRows,
      "corpus_raw_bytes" -> count("raw_bytes"),
      "warm_builds" -> (o.walls.length - 1))
  }

  // -------------------------------------------------------------- refresh

  private def copyTree(from: Path, to: Path): Unit = {
    val ps = Files.walk(from).iterator().asScala.toSeq
    ps.foreach { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      // attributes too: Refresh digests the dim files' mtimes, and a
      // copy that changed them would read as a dim edit
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val ps = Files.walk(p).iterator().asScala.toSeq.reverse
    ps.foreach(Files.delete)
  }

  private def treeBytes(p: Path, ext: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(ext)).map(Files.size).sum

  /** (year, month) a listings file lands in, parsed as the fact does. */
  private def monthKey(name: String): (Int, Int) = {
    val p = name.stripSuffix(".csv").split('_')
    (p(p.length - 1).toInt, p(p.length - 2).toInt)
  }

  /** A partitioned fact built from the first months, then ticks that each
    * land the next monthly file (and, every few ticks, a second file for
    * an already-built month), run Refresh.refreshFact, and read the four
    * views back over Refresh.fact. Each cycle restarts from the set-up
    * state, so every run measures the same tick sequence. */
  def refreshTicks(spark: SparkSession, a: Args, trace: Trace, o: Outcome): Unit = {
    val exp = Gates.loadExpected(Paths.get(a.input, "expected.tsv").toString)
    val input = Paths.get(a.input)
    val counts = corpusCounts(a.input)
    val monthly = counts.get("files").elements().asScala.map(_.get("name").asText).toSeq
    val extras = counts.get("extra_files").elements().asScala
      .map(e => e.get("name").asText -> e.get("lands_after").asText).toSeq
    val initial = monthly.take(3)
    val ticks = monthly.drop(3).map(m => m +: extras.collect { case (e, after) if after == m => e })
    require(ticks.nonEmpty, "refresh corpus needs more than three months")
    val sideFiles = Files.list(input).iterator().asScala
      .map(_.getFileName.toString).filter(n => n.endsWith(".csv") && !n.contains("listings")).toSeq
    // The ledger records full paths, so every build and tick uses the same
    // raw and fact directories; a cycle restores them from the template.
    val root = Paths.get(a.work, "refresh")
    val raw = root.resolve("raw")
    val fact = root.resolve("fact")
    val template = root.resolve("template")
    deleteTree(root)

    // set-up: the initial fact, built twice (cold, then warm); the median
    // of the two is reported
    for (_ <- 0 until 2) {
      deleteTree(raw)
      deleteTree(fact)
      Files.createDirectories(raw)
      (sideFiles ++ initial).foreach(n =>
        Files.copy(input.resolve(n), raw.resolve(n), StandardCopyOption.COPY_ATTRIBUTES))
      val t0 = now
      val done = Refresh.refreshFact(spark, raw.toString, fact.toString)
      o.setup += secs(t0)
      val got = done.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      if (got != initial.toSet) o.problems += s"set-up processed $got, expected $initial"
    }
    copyTree(raw, template.resolve("raw"))
    copyTree(fact, template.resolve("fact"))

    val files = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Double]
    val reprocessed = mutable.ArrayBuffer.empty[Double]
    var factPerRaw = 0.0
    var lastViews: Seq[(String, Array[Row])] = Nil
    val start = now
    var cycle = 0
    while (cycle == 0 || more(a, start, cycle)) {
      if (cycle > 0) {
        deleteTree(raw)
        deleteTree(fact)
        copyTree(template.resolve("raw"), raw)
        copyTree(template.resolve("fact"), fact)
      }
      trace.pass = cycle
      val cycleWalls = mutable.ArrayBuffer.empty[(Double, Boolean)]
      val landed = mutable.ArrayBuffer.empty[String] ++ initial
      ticks.zipWithIndex.foreach { case (batch, slot) =>
        trace.slot = slot
        // traced run: cycle 0 traced; later cycles alternate traced and
        // untraced ticks, shifted by one each cycle, so both sides see
        // every slot (the reprocess tick is slot 0)
        val traced = a.trace && (cycle == 0 || (cycle + slot) % 2 == 0)
        trace.setActive(traced)
        settle()
        val tickStartMs = System.currentTimeMillis()
        val t0 = now
        batch.foreach(n => Files.copy(input.resolve(n), raw.resolve(n)))
        val before = trace.span("refresh.discover")(Refresh.processedFiles(spark, fact.toString))
        val done = trace.span("refresh.tick")(Refresh.refreshFact(spark, raw.toString, fact.toString))
        val views = trace.span("refresh.read") {
          materializeViews(trace, viewsOf(Refresh.fact(spark, fact.toString)))
        }
        val wall = secs(t0)
        val batchMonths = batch.map(monthKey).toSet
        reprocessed += landed.count(n => batchMonths(monthKey(n)))
        landed ++= batch
        files += Files.walk(fact.resolve("data")).iterator().asScala.count(p =>
          p.getFileName.toString.endsWith(".parquet") &&
            Files.getLastModifiedTime(p).toMillis >= tickStartMs - 1000)
        // a month is checked once every file that belongs to it has landed
        val pending = (monthly ++ extras.map(_._1)).filterNot(landed.contains).map(monthKey).toSet
        val got = done.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        val problems =
          (if (got != batch.toSet) Seq(s"tick processed $got, expected $batch") else Nil) ++
            (if (before.size != landed.length - batch.length)
              Seq(s"ledger held ${before.size} files before the tick") else Nil) ++
            Gates.checkViews(exp, views, ym => !pending(ym) && landed.exists(n => monthKey(n) == ym))
        o.attempted += 1
        if (problems.nonEmpty) { o.failed += 1; o.problems ++= problems }
        cycleWalls += (wall -> traced)
        lastViews = views
      }
      trace.slot = 0
      cycleWalls.foreach { case (w, traced) => recordWall(a, o, cycle, w, traced) }
      factPerRaw = treeBytes(fact.resolve("data"), ".parquet").toDouble /
        landed.map(n => Files.size(raw.resolve(n))).sum
      cycle += 1
    }
    finishLatency(o)

    // the maintained fact's views must equal a batch rebuild over the same files
    trace.setActive(false)
    val checkStart = now
    val rebuilt = AirbnbPipeline.run(spark, raw.toString)
    val rebuiltViews = viewsOf(rebuilt).map { case (n, df) => n -> df.collect() }
    spark.catalog.clearCache()
    val parity = Gates.sameViews(lastViews, rebuiltViews)
    if (parity.nonEmpty) { o.failed += 1; o.problems ++= parity.map("refresh vs rebuild: " + _) }
    val checkS = secs(checkStart)

    val tickWalls = o.walls.toSeq
    o.layers ++= Seq(
      "refresh.tick.files_written" -> Stats.median(files.toSeq),
      "refresh.tick.reprocessed_files" -> reprocessed.sum / cycle,
      "refresh.tick.fact_bytes_per_raw_byte" -> factPerRaw)
    o.details ++= Seq(
      "tick_p50_s" -> Stats.median(tickWalls),
      "tick_p75_s" -> Stats.quantile(tickWalls, 0.75),
      "ticks" -> tickWalls.length,
      "ticks_per_cycle" -> ticks.length,
      "cycles" -> cycle,
      "fact_bytes_per_raw_byte" -> factPerRaw,
      "rebuild_check_s" -> checkS,
      "reprocessed_files_per_cycle" -> reprocessed.sum / cycle)
  }

  // ------------------------------------------------------------ operators

  /** Registry queries via SparkEntry.queries, each sunk to `noop` as
    * graft.Bench does: one warm-up pass that checks every result against
    * its pinned row count and hash, then timed passes in an order the
    * seed permutes. A query that fails its pin counts as failed in every
    * pass. */
  def operatorSuite(spark: SparkSession, a: Args, trace: Trace, o: Outcome): Unit = {
    val pins = Gates.loadPins(a.pins)
    val qs = a.queries
    require(qs.nonEmpty, "no queries given")
    val rnd = new scala.util.Random(a.seed)
    val bad = mutable.Set.empty[String]
    val walls = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val fingerprints = mutable.LinkedHashMap.empty[String, (Long, Long)]
    // the warm-up pass sinks each result into its fingerprint instead of
    // noop, so checking it costs no extra execution
    def run(q: String, pass: Int): Double = {
      val t0 = now
      trace.span(s"ops.$q") {
        val df = trace.span(s"ops.$q.plan")(SparkEntry.queries(q)(spark, a.input))
        if (pass > 0) df.write.format("noop").mode("overwrite").save()
        else {
          val fp = Gates.fingerprint(df)
          fingerprints(q) = fp
          pins.get(q) match {
            case Some(p) if p == fp =>
            case Some(p) => bad += q; o.problems += s"$q: (rows, hash) $fp, pinned $p"
            case None => bad += q; o.problems += s"$q: no pinned (rows, hash); got $fp"
          }
        }
      }
      val wall = secs(t0)
      spark.catalog.clearCache()
      wall
    }
    def runPass(pass: Int): Unit = {
      trace.pass = pass
      // the warm-up's spans end in a different action, so they get a slot
      // of their own and are compared for exact repeats only among themselves
      trace.slot = if (pass == 0) 1 else 0
      trace.setActive(tracedPass(a, pass))
      settle()
      val order = if (pass == 0) qs else rnd.shuffle(qs)
      var total = 0.0
      order.foreach { q =>
        o.attempted += 1
        try {
          val w = run(q, pass)
          total += w
          if (pass > 0) walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += w
          if (bad(q)) o.failed += 1
        } catch {
          case e: Throwable =>
            o.failed += 1
            o.problems += s"$q failed: ${e.getMessage}"
        }
      }
      recordWall(a, o, pass, total, tracedPass(a, pass))
    }
    val start = now
    runPass(0)
    var pass = 1
    while (more(a, start, pass)) { runPass(pass); pass += 1 }
    o.cold = o.walls.head
    o.p50 = qs.map(q => Stats.median(walls.getOrElse(q, Seq(0.0)).toSeq)).sum
    o.p75 = qs.map(q => Stats.quantile(walls.getOrElse(q, Seq(0.0)).toSeq, 0.75)).sum
    o.details ++= Seq(
      "suite_s" -> o.p50,
      "passes" -> (pass - 1),
      "query_median_s" -> ListMap(qs.map(q =>
        q -> Stats.median(walls.getOrElse(q, Seq(0.0)).toSeq)): _*),
      "fingerprints" -> fingerprints.map { case (q, (r, h)) => q -> Seq(r, h) })
    // the per-layer name of the construction-time jobs: ops.<q>.plan_jobs
    trace.setActive(false)
  }
}
