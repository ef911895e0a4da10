package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.functions._

import graft.core.Input
import graft.pipeline.{FrequencyAnalysis, FrequencyAnalysisStage}
import graft.stage.{Context, Opts, SparkJob}

/** Observes the output jobs a stage runs inside `processOutputs`: each
  * job gets its own span under the open `stage.process_outputs` span,
  * and the benchmark learns when the first job started (everything in
  * `processOutputs` before that is runstatus bookkeeping).
  */
final class JobHooks(env: Env) {
  @volatile private var parent = 0L
  @volatile private var firstUs = -1L
  private val waits = scala.collection.mutable.ArrayBuffer.empty[Double]

  def reset(parentSpan: Long): Unit = synchronized { parent = parentSpan; firstUs = -1L }
  def firstJobUs: Long = firstUs

  def wrap(job: SparkJob): SparkJob = SparkJob { (spark, jobEnv) =>
    val now = env.tracer.nowUs
    val wait = synchronized {
      if (firstUs < 0) firstUs = now
      (now - firstUs) / 1e6
    }
    if (env.tracer.on) synchronized(waits += wait)
    env.tracer.span("pipeline.job", parent)(job.run(spark, jobEnv))
  }

  def queueWaits: Seq[Double] = synchronized(waits.toSeq)
}

/** The flagship method's stage, unchanged except that each output job
  * runs inside its own span.
  */
final class ObservedFrequencyStage(hooks: JobHooks)(implicit ctx: Context)
    extends FrequencyAnalysisStage {
  override def make(output: String): SparkJob = hooks.wrap(super.make(output))
}

/** The flagship method's stage lifecycle, as a scheduled method run
  * performs it: a cold build of every ancestry, then incremental rounds
  * that touch a seeded few `metadata` markers, plan (`getWork`), build
  * the stale outputs (`processOutputs`), record them (`insertRuns`) and
  * check that the stage is up to date.
  */
object FreqPipeline extends Workload {
  val name = "freq_pipeline"
  /** Ancestries a round touches, and datasets within each. */
  val TouchOutputs = 1
  val TouchInputs = 2

  /** Every tree's shape: every output job reads every ancestry's rows,
    * so the pipeline's share of a round grows with the data.
    */
  val Shape = Gen.VariantShape(datasets = 4, ancestries = 3, variants = 20000, rowsPerPart = 4000)
  /** The first warm-up tree: the same code paths over little data. */
  val SmallShape = Gen.VariantShape(datasets = 2, ancestries = 2, variants = 200, rowsPerPart = 200)
  /** Set-ups of the full shape a run makes: the first warms up, the
    * others are timed.
    */
  val Setups = 4

  private val opts = new Opts(Seq("--yes"))

  /** One generated tree with its own ledger and stage. */
  private final class Instance(env: Env, val root: Path, shape: Gen.VariantShape = Shape) {
    val tree: Gen.VariantTree = Gen.variantTree(root, env.seed, shape)
    val ctx = new Context("perfbench", name, env.spark, root.toString, root.toString, s"$root/.graft")
    ctx.runs.migrate()
    ctx.runStatus.migrate()
    val hooks = new JobHooks(env)
    val stage = new ObservedFrequencyStage(hooks)(ctx)
    private val tr = env.tracer

    /** Manifest versions committed so far, both ledger tables. */
    def versions: Long =
      ctx.runs.table.versions.lastOption.getOrElse(0L) +
        ctx.runStatus.table.versions.lastOption.getOrElse(0L)

    /** One lifecycle round: plan, build, record; returns the planned work. */
    def round(): Map[String, Set[Input]] = {
      val work = tr.span("stage.get_work")(stage.getWork(opts))
      tr.span("stage.process_outputs") {
        hooks.reset(tr.currentId)
        val t0 = tr.nowUs
        stage.processOutputs(work, opts)
        if (hooks.firstJobUs > 0) tr.derived("runs.status_open", tr.currentId, t0, hooks.firstJobUs)
      }
      tr.span("stage.insert_runs")(tr.span("runs.commit")(stage.insertRuns(work)))
      work
    }

    /** Plan on an up-to-date stage: must find nothing to do. */
    def noopCheck(timed: Boolean = true): Unit = {
      val (w, _) = env.time(if (timed) "noop_check_s" else "")(tr.span("stage.get_work")(stage.getWork(opts)))
      env.check("getWork is empty after the round")(w.isEmpty)
    }

    /** Build every output from an empty ledger; an untimed one warms up. */
    def coldBuild(timed: Boolean = true): Unit = env.op("cold build") {
      tr.request += 1
      val v0 = versions
      val (work, _) = env.time(if (timed) "full_build_s" else "")(tr.span("bench.build")(round()))
      env.add("outputs_built", work.size)
      if (tr.on) env.add("runs.commits", (versions - v0).toDouble / math.max(work.size, 1))
      env.check("cold build planned every output") { work.size == tree.ancestries.size }
      noopCheck(timed)
    }

    def verify(): Unit = tr.span("bench.check") {
      val expected = for (a <- tree.ancestries; d <- tree.datasets) yield (a, tree.key(d, a))
      env.check("runs ledger holds exactly one row per (output, input)") {
        val rows = ctx.runs.all()
        rows.size == expected.size && rows.map(r => (r.output, r.input)).toSet == expected.toSet
      }
      env.check("every runstatus row has ended >= started") {
        val st = ctx.runStatus.all()
        st.size == tree.ancestries.size && st.forall(r =>
          r.started.isDefined && r.ended.isDefined && !r.ended.get.isBefore(r.started.get))
      }
      verifyOutputs(env, root)
    }
  }

  def run(env: Env): Unit = {
    // set-up, four times: generate the inputs and create the ledger
    val setups = (1 to Setups).map { i =>
      env.time("setup_s")(new Instance(env, env.dir.resolve(s"setup-$i")))._1
    }
    env.log("set-up done")

    // warm-up: untimed cold builds of a small tree, which pays first-use
    // class loading and code generation, and of the first full tree,
    // which compiles most of the hot paths over this much data
    new Instance(env, env.dir.resolve("warm-up"), SmallShape).coldBuild(timed = false)
    setups.head.coldBuild(timed = false)
    env.log("warm-up done")

    val tr = env.tracer
    val t0 = System.nanoTime
    tr.on = env.trace

    // a cold build of each other set-up's tree: every output is stale.
    // The rounds run on the last tree
    setups.tail.foreach(_.coldBuild())
    env.log("cold builds done")
    val last = setups.last

    import last.{root, stage, tree, ctx}
    var i = 0
    // three rounds at least, so one round that a short host stall slows
    // does not move the median
    while (i < math.max(env.minSteps, 3) || env.timeLeft(t0)) {
      val touched = Gen.touchSchedule(env.seed, i, tree.ancestries, TouchOutputs,
        _ => tree.datasets, TouchInputs)
      touched.foreach { case (a, d) => Gen.touch(tree.metadata(d, a)) }
      env.op(s"round $i") {
        val v0 = last.versions
        val on = env.traced(i)
        val (work, _) = env.step(i) {
          val (w, _) = env.time("incr_round_s")(last.round())
          last.noopCheck()
          w
        }
        if (on) env.add("runs.commits", (last.versions - v0).toDouble / math.max(work.size, 1))
        env.add("outputs_rebuilt", work.size)
        val rebuiltInputs = work.size * tree.datasets.size
        env.add("rebuild_amplification", rebuiltInputs.toDouble / touched.size)
        env.check("the round planned exactly the touched inputs") {
          work.keySet == touched.map(_._1).toSet &&
            work.values.flatten.map(_.key).toSet == touched.map { case (a, d) => tree.key(d, a) }.toSet
        }
      }
      if (env.trace) tr.span("bench.layers") {
        // the layers getWork composes, each timed on its own
        val listed = tr.span("core.list") {
          stage.sources.flatMap(_.inputs(root.toString)(env.spark))
        }
        env.set("core.inputs_listed", listed.size)
        tr.span("runs.of")(ctx.runs.of(stage.getName))
      }
      env.log(s"round $i done")
      i += 1
    }
    // every output has been built by now: check them and the ledgers once
    last.verify()

    env.set("stored_bytes", Host.du(root.resolve(".graft")) + Host.du(root.resolve("out")))
    env.set("runs.bytes", Host.du(root.resolve(".graft")))
    env.set("input_bytes", Host.du(root.resolve("variants")))
    last.hooks.queueWaits.foreach(env.add("pipeline.queue_wait_s", _))
  }

  /** Each ancestry's output equals the independent SQL form of the
    * weighted mean, `sum(x*n)/sum(n)`, over the same inputs.
    */
  private def verifyOutputs(env: Env, root: Path): Unit =
    env.check("outputs equal the sum(x*n)/sum(n) SQL form") {
      val spark = env.spark
      val vars = FrequencyAnalysis.readVariants(spark, root.toString)
      val n = FrequencyAnalysis.readMetadata(spark, root.toString)
        .select(col("name").as("dataset"), col("samples").as("n"))
        .groupBy("dataset").agg(max("n").as("n"))
      def form(c: String) = vars
        .filter(col(c).isNotNull && !isnan(col(c)))
        .groupBy(col("ancestry"), col("varId"), col("dataset")).agg(avg(col(c)).as(c))
        .join(n, Seq("dataset"))
        .groupBy(col("ancestry"), col("varId"))
        .agg((sum(col(c) * col("n")) / sum(col("n"))).as(c))
      def key(r: org.apache.spark.sql.Row) = (r.getAs[String]("ancestry"), r.getAs[String]("varId"))
      def opt(r: org.apache.spark.sql.Row, c: String): Option[Double] =
        Option(r.getAs[Any](c)).map(_.asInstanceOf[Number].doubleValue)
      val expected = form("maf").join(form("eaf"), Seq("ancestry", "varId"), "left_outer")
        .collect().map(r => key(r) -> (opt(r, "eaf"), opt(r, "maf"))).toMap
      val got = spark.read.json(s"$root/out/frequencyanalysis/*").collect()
        .map(r => key(r) -> (opt(r, "eaf"), opt(r, "maf"))).toMap
      def close(a: Option[Double], b: Option[Double]) = (a, b) match {
        case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (None, None)       => true
        case _                  => false
      }
      got.size == expected.size && expected.forall { case (k, (eaf, maf)) =>
        got.get(k).exists { case (e, m) => close(e, eaf) && close(m, maf) }
      }
    }
}
