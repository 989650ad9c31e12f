package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cli.LinkagePipeline
import graft.operators.Validation

/** One benchmark job: `run` builds the job's result and forces all of it. */
final case class Job(name: String, run: () => Unit)

/** A timed execution of one job. */
final case class Exec(iteration: Int, job: String, kind: String, seconds: Double,
                      ok: Boolean, error: String)

/** The closed loop: one client, the next job starts when the previous one
  * returns. Each iteration runs every job cold (caches cleared first) then
  * warm (caches kept). Kept free of Spark so a stub job can exercise it. */
object Loop {
  def runIteration(iteration: Int, jobs: Seq[Job], clear: () => Unit,
                   around: (Job, String) => (() => Unit) => Unit): Seq[Exec] =
    jobs.flatMap { job =>
      clear()
      Seq("cold", "warm").map { kind =>
        var err: String = null
        val t0 = System.nanoTime()
        around(job, kind) { () =>
          try job.run()
          catch { case e: Throwable =>
            err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
        }
        Exec(iteration, job.name, kind, (System.nanoTime() - t0) / 1e9, err == null, err)
      }
    }

  /** Runs the untimed `warmup` steps, then timed iterations until
    * `seconds` have passed and at least `minIterations` are done.
    * Returns (first timed ms, timed execs, (iteration, CPU s, start ms,
    * end ms) per iteration). */
  def run(jobs: Seq[Job], clear: () => Unit, warmup: Seq[() => Unit], seconds: Double,
          minIterations: Int, cpuNanos: () => Long,
          around: (Int, Job, String) => (() => Unit) => Unit)
      : (Long, Seq[Exec], Seq[(Int, Double, Long, Long)]) = {
    warmup.foreach(_())
    val first = System.currentTimeMillis()
    val execs = Seq.newBuilder[Exec]
    val iters = Seq.newBuilder[(Int, Double, Long, Long)]
    var i = 0
    while (i < minIterations || System.currentTimeMillis() - first < seconds * 1000) {
      val c0 = cpuNanos(); val t0 = System.currentTimeMillis()
      execs ++= runIteration(i, jobs, clear, around(i, _, _))
      iters += ((i, (cpuNanos() - c0) / 1e9, t0, System.currentTimeMillis()))
      i += 1
    }
    (first, execs.result(), iters.result())
  }
}

/** Benchmark driver: builds the pinned session, runs one workload's
  * closed loop, checks every job's output once outside the timed window,
  * and writes the raw measurements as JSON for `perfbench/run.py`.
  *
  * Usage: Driver <workload> <dataDir> <outDir> <seconds> <trace 0|1> <job,job,...>
  */
object Driver {
  /** Untimed passes over every job before the first timed iteration:
    * JIT drift settles within about two. */
  val WarmupPasses = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, jobList) = args
    val traced = traceArg == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = jobList.split(",").toSeq
    val jobs = if (workload == "linkage") names.map(n => Job(n, () => noop(linkageJob(spark, dataDir, n))))
      else names.map { n =>
        val q = graft.SparkEntry.queries(n)
        Job(n, () => noop(q(spark, dataDir)))
      }
    val tracer = if (traced) Some(Tracer.install(spark)) else None
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // traced runs alternate untraced and traced iterations, at least
    // three, so the tracing overhead compares iterations that bracket
    // each other under the same JIT and cache state
    def around(i: Int, job: Job, kind: String)(body: () => Unit): Unit = tracer match {
      case Some(t) if i % 2 == 1 => t.span(i, s"${job.name} $kind", "job")(body())
      case _ => body()
    }
    // Each job's output is checked once, in the first warm-up pass; the
    // other passes run every job cold. A job that fails while warming up
    // fails again, and is counted, in the timed loop.
    new java.io.File(outDir).mkdirs()
    var checks = Map.empty[String, Any]
    def error(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    val check = () => {
      checks = if (workload == "linkage") {
        clearCaches(spark)
        scala.util.Try(linkageActuals(spark, dataDir)).fold(e => Map("error" -> error(e)), identity)
      } else names.map { n =>
        clearCaches(spark)
        n -> scala.util.Try(graft.SparkEntry.queries(n)(spark, dataDir)
          .write.mode("overwrite").parquet(s"$outDir/$n")).failed.toOption.map(error).orNull
      }.toMap
    }
    val warmup = check +: (2 to WarmupPasses).flatMap(_ => jobs).map(job => () => {
      clearCaches(spark); scala.util.Try(job.run()); ()
    })
    val (firstMs, execs, iters) = Loop.run(jobs, () => clearCaches(spark), warmup,
      secondsArg.toDouble, if (traced) 3 else 2, () => os.getProcessCpuTime, around)
    val tracedIters = iters.map(_._1).filter(i => traced && i % 2 == 1)
    tracer.foreach { t =>
      if (workload == "linkage") tracedIters.foreach(i => cliStages(t, spark, dataDir, i))
      t.stop()
    }
    val peakRssKb = procStatus("VmHWM")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    clearCaches(spark)
    spark.stop()

    val out = Map(
      "workload" -> workload, "first_timed_ms" -> firstMs, "peak_rss_kb" -> peakRssKb,
      "traced_iterations" -> tracedIters,
      "iterations" -> iters.map { case (i, cpu, s, e) =>
        Map("i" -> i, "cpu_s" -> cpu, "start_ms" -> s, "end_ms" -> e) },
      "execs" -> execs.map(x => Map("i" -> x.iteration, "job" -> x.job, "kind" -> x.kind,
        "s" -> x.seconds, "ok" -> x.ok, "error" -> x.error)),
      "checks" -> checks, "oracle_sql" -> oracle,
      "spans" -> tracer.map(_.spansJson).getOrElse(Seq.empty))
    val w = new java.io.PrintWriter(s"$outDir/result.json", "UTF-8")
    try w.write(Json.render(out)) finally w.close()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def clearCaches(spark: SparkSession): Unit = {
    graft.QueriesText.clearSessionCaches()
    graft.QueriesCurate.clearSessionCaches()
    graft.QueriesStreaming.clearSessionCaches()
    graft.QueriesSimilarity.clearSessionCaches()
    graft.QueriesPipeline.clearSessionCaches()
    spark.catalog.clearCache()
  }

  /** Every output table of E1 and E2, built from the input files. */
  private def linkage(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val e1 = LinkagePipeline.runLinkage(spark, dir)
    e1 ++ LinkagePipeline.runChartevents(spark, dir, e1("cohort"))
  }

  /** `e1`: the linked, derived cohort from the raw extracts. `e2`: the
    * chartevents completeness report over that cohort, from the raw
    * extracts too, since the pipeline keeps no intermediate. */
  private def linkageJob(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "e1" => LinkagePipeline.runLinkage(spark, dir)("cohort")
    case "e2" => linkage(spark, dir)("completeness")
  }

  /** The `cli` stages forced one by one; each stage's inputs are the
    * stages listed with it, so its self time is its span minus theirs. */
  private def cliStages(t: Tracer, spark: SparkSession, dir: String, i: Int): Unit = {
    import LinkagePipeline._
    def icnarc = cleanIcnarcIds(spark, s"$dir/icnarc_ids.csv", s"$dir/issue_list.ww.csv")
    def philips = cleanPhilipsEncounters(spark, s"$dir/encounter_summary.tsv",
      s"$dir/issue_list.encounterId.csv")
    def dedup = dedupEncounters(philips)
    def joined = joinIcnarcToPhilips(icnarc, dedup)
    def cmp = parseCmp(spark, s"$dir/icnarc_cmp.xml", s"$dir/cmp_dictionary.csv")
    def cohort = deriveClinical(joined, cmp)
    def events = buildChartevents(spark, dir, cohort)
    Seq[(String, () => DataFrame)](
      "clean_icnarc_ids" -> (() => icnarc), "clean_philips" -> (() => philips),
      "dedup_encounters" -> (() => dedup), "join_icustays" -> (() => joined),
      "parse_cmp" -> (() => cmp), "derive_clinical" -> (() => cohort),
      "build_chartevents" -> (() => events),
      "reports" -> (() => runChartevents(spark, dir, cohort)("freq_moments"))
    ).foreach { case (stage, df) => t.span(i, s"cli.$stage", "cli")(noop(df())) }
  }

  /** What the linkage truth check compares against `truth.json`. */
  private def linkageActuals(spark: SparkSession, dir: String): Map[String, Any] = {
    val out = linkage(spark, dir)
    def counts(df: DataFrame, key: String) = df.collect()
      .map(r => Option(r.getAs[Any](key)).map(_.toString).getOrElse("null") -> r.getAs[Any](1))
      .toMap
    Map(
      "philips_rows" -> out("philips").count(),
      "philips_unique" -> Validation.isUnique(out("philips"), Seq("encounterId")),
      "icustays_rows" -> out("icustays").count(),
      "cohort_rows" -> out("cohort").count(),
      "chartevents_rows" -> out("chartevents").count(),
      "n_entities" -> counts(out("completeness").select("Variable", "n_entities"), "Variable"),
      "mortality" -> counts(out("mortality_rates"), "icnarc_in_hospital_mortality"))
  }

  private def procStatus(field: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}

/** Minimal JSON emitter for the driver's result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => graft.JsonEscape.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => graft.JsonEscape.str(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.map(render).getOrElse("null")
    case other => graft.JsonEscape.str(other.toString)
  }
}
