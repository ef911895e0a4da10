package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import graft.{Bench, GraftSession}

trait Workload {
  def name: String
  def run(env: Env): Unit
}

/** One benchmark run of one workload in a fresh JVM:
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --dir <scratch dir> --results <results dir>
  * }}}
  * Prints a human-readable block, then as its last stdout line one JSON
  * object `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics with tracing off, the per-layer metrics with it
  * on. Exits 1 when any operation or correctness check failed.
  */
object Main {

  val Workloads: Seq[Workload] = Seq(FreqPipeline, IndexServe)

  /** The samples each workload's `build_s`, `round_s` and
    * `read_p50_ms` are the median of.
    */
  private val Generic: Map[String, (String, String, String)] = Map(
    "freq_pipeline" -> ("full_build_s", "incr_round_s", "noop_check_s"),
    "index_serve"   -> ("index_build_s", "maint_round_s", "serve_s"))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, usage(s"missing --$k"))
    val workload = Workloads.find(_.name == need("workload"))
      .getOrElse(usage(s"unknown workload ${need("workload")}"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val dir = Paths.get(need("dir")).toAbsolutePath
    val results = Paths.get(need("results")).toAbsolutePath

    val cpus = Host.cpus
    val load1 = Bench.loadAvg1m()
    val load15 = Bench.loadAvg15m()
    val (steal0, total0) = Bench.cpuStealTotal()

    Host.deleteTree(dir)
    Files.createDirectories(dir)
    val spark = GraftSession.build("perfbench", s"local[$cpus]", cpus.toString)
    val env = new Env(spark, workload.name, seed, seconds, trace, dir)
    env.log("session up")
    if (trace) spark.sparkContext.addSparkListener(env.counters)
    val tablesBefore = catalogTables(env)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val warehouse = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val dirsBefore = Host.entries(warehouse)

    try workload.run(env)
    catch { case NonFatal(e) => env.fail(s"${workload.name} aborted: $e"); e.printStackTrace() }

    if (trace) env.counters.drain(spark.sparkContext)
    val peakRss = Host.peakRssMb
    // the workload has torn down what it made: whatever is still there
    // was left behind by the program or the workload
    leftovers(env, "catalog table", catalogTables(env) -- tablesBefore)
    leftovers(env, "persisted RDD", (spark.sparkContext.getPersistentRDDs.keySet.toSet -- rddsBefore).map(_.toString))
    leftovers(env, "warehouse directory", Host.entries(warehouse) -- dirsBefore)
    cleanup(env, tablesBefore)
    env.log("cleanup done")

    val (steal1, total1) = Bench.cpuStealTotal()
    val stealPct =
      if (steal0 < 0 || total1 <= total0) -1.0 else 100.0 * (steal1 - steal0) / (total1 - total0)
    val host = Seq("cpus" -> cpus.toDouble, "load1" -> load1, "load15" -> load15,
      "load1_end" -> Bench.loadAvg1m(), "steal_pct" -> stealPct)

    val metrics =
      try {
        if (trace) Layers.metrics(env)
        else endToEnd(env)
      } catch {
        case NonFatal(e) => env.fail(s"metrics: $e"); Seq.empty
      }

    printHuman(env, peakRss, host)
    val line = Json.obj(Seq(
      "correct" -> (env.failed == 0).toString,
      "attempted" -> env.attempted.max(1L).toString,
      "failed" -> env.failed.toString,
      "metrics" -> Json.obj(metrics.map { case Metric(n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    writeResults(env, results, line, host)
    spark.stop()
    println(line)
    System.out.flush()
    sys.exit(if (env.failed == 0) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: Main --workload <${Workloads.map(_.name).mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --dir <scratch> --results <dir>")
    sys.exit(2)
  }

  final case class Metric(name: String, value: Double, unit: String)

  private def endToEnd(env: Env): Seq[Metric] = {
    val (build, round, read) = Generic(env.workload)
    def med(k: String) = Stats.median(env.get(k))
    Seq(
      Metric("setup_s", med("setup_s"), "s"),
      Metric("build_s", med(build), "s"),
      Metric("round_s", med(round), "s"),
      Metric("read_p50_ms", 1000 * med(read), "ms"))
  }

  /** The catalog tables and temp views currently registered. */
  private def catalogTables(env: Env): Set[String] =
    env.spark.catalog.listTables().collect().map(_.name).toSet

  /** One failed operation for each thing left behind, or one passed
    * check when there is none.
    */
  private def leftovers(env: Env, what: String, left: Set[String]): Unit =
    if (left.isEmpty) env.check(s"no $what is left behind")(true)
    else left.toSeq.sorted.foreach(x => env.check(s"$what $x is left behind")(false))

  /** After the leftover checks: drop every catalog table still there,
    * release every persisted RDD and delete the run's scratch tree, so
    * a failed run leaves nothing either.
    */
  private def cleanup(env: Env, before: Set[String]): Unit = {
    val spark = env.spark
    env.op("cleanup") {
      spark.catalog.listTables().collect().filterNot(t => before(t.name)).foreach { t =>
        if (t.isTemporary) spark.catalog.dropTempView(t.name)
        else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Host.deleteTree(env.dir)
    }
  }

  private def printHuman(env: Env, peakRss: Double, host: Seq[(String, Double)]): Unit = {
    def med(k: String) = env.get(k) match { case Nil => None; case xs => Some(Stats.median(xs)) }
    def p90(k: String) = env.get(k) match { case Nil => None; case xs => Some(Stats.quantile(xs, 0.9)) }
    def n(k: String) = env.get(k).size
    val rows = Seq(
      ("setup_s", med("setup_s"), "s", n("setup_s")),
      ("full_build_s", med("full_build_s"), "s", n("full_build_s")),
      ("incr_round_s", med("incr_round_s"), "s", n("incr_round_s")),
      ("noop_check_s", med("noop_check_s"), "s", n("noop_check_s")),
      ("index_build_s", med("index_build_s"), "s", n("index_build_s")),
      ("serve_p50_ms", med("serve_s").map(_ * 1000), "ms", n("serve_s")),
      ("serve_p90_ms", p90("serve_s").map(_ * 1000), "ms", n("serve_s")),
      ("append_p50_s", med("append_s"), "s", n("append_s")),
      ("compact_s", med("compact_s"), "s", n("compact_s")),
      ("mix_pass_s", med("mix_pass_s"), "s", n("mix_pass_s")),
      ("stored_bytes", env.value("stored_bytes"), "bytes", 1),
      ("peak_rss_mb", Some(peakRss), "MB", 1),
      ("fail_ratio", Some(env.failed.toDouble / env.attempted.max(1L)), "ratio", env.attempted.toInt))
    println(s"== perfbench ${env.workload} seed=${env.seed} trace=${if (env.trace) 1 else 0}")
    println("   host " + host.map { case (k, v) => s"$k=${Json.num(v)}" }.mkString(" "))
    rows.foreach { case (k, v, u, cnt) =>
      println(f"   $k%-14s ${v.map(x => f"$x%.4f").getOrElse("n/a")}%14s $u%-5s (n=$cnt)")
    }
    env.failures.foreach(f => println(s"   FAILED $f"))
  }

  /** A result record beside the stdout line (host tags, every sample
    * series), and in a traced run the spans, one JSON object a line.
    */
  private def writeResults(env: Env, results: Path, line: String, host: Seq[(String, Double)]): Unit =
    try {
      Files.createDirectories(results)
      val stem = s"${env.workload}-seed${env.seed}-trace${if (env.trace) 1 else 0}"
      val samples = env.sampleNames.map(k => k -> env.get(k).map(Json.num).mkString("[", ", ", "]"))
      Files.write(results.resolve(s"$stem.json"), Json.obj(Seq(
        "workload" -> Json.str(env.workload),
        "seed" -> env.seed.toString,
        "host" -> Json.obj(host.map { case (k, v) => k -> Json.num(v) }),
        "failures" -> env.failures.map(Json.str).mkString("[", ", ", "]"),
        "samples" -> Json.obj(samples),
        "result" -> line)).getBytes(UTF_8))
      if (env.trace) {
        val spans = env.tracer.spans.map(s => Json.obj(Seq(
          "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "request" -> s.request.toString, "start_us" -> s.startUs.toString,
          "end_us" -> s.endUs.toString, "derived" -> s.derived.toString)))
        Files.write(results.resolve(s"$stem.spans.jsonl"), spans.mkString("", "\n", "\n").getBytes(UTF_8))
      }
    } catch { case NonFatal(e) => System.err.println(s"[perfbench] could not write results: $e") }
}
