package graft.stage

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import graft.SparkTestBase
import graft.core.{Input, Outputs}
import graft.runs.{ParquetTable, RunRow}

/** What a stage run commits to the runs ledger, and when: each ledger
  * table once per phase (open before the first job, record after the
  * last), the ledger a failed job leaves behind, and the strict
  * `isAfter` rule of the planner's diff.
  */
final class LedgerCommitSpec extends SparkTestBase {

  private def writeFile(root: String, key: String): Unit = {
    val p = Paths.get(root, key)
    Files.createDirectories(p.getParent)
    Files.write(p, s"data for $key".getBytes)
  }

  private def version(t: ParquetTable[_]): Long = t.versions.lastOption.getOrElse(0L)

  /** A stage over `a/<group>/part-*`, one output per group, whose job
    * is `job(output)`.
    */
  private def groupStage(job: String => Unit)(implicit context: Context): Stage = new Stage() {
    val src = Input.Source("a/*/", "part-*")
    override val sources = Seq(src)
    override val rules: PartialFunction[Input, Outputs] = {
      case src(group, _) => Outputs.Named(group)
    }
    override def make(output: String): SparkJob = SparkJob((_, _) => job(output))
    override def getName: String = "LedgerStage"
  }

  private val groups = Set("g1", "g2", "g3")
  private val yes    = new Opts(Seq("--yes"))

  test("a run over 3 outputs commits runstatus once before the first job, runs and runstatus once after") {
    val root = tmpDir("ledger-commits")
    implicit val context: Context = TestMethod.context(spark, root)
    groups.foreach(g => writeFile(root, s"a/$g/part-1"))
    context.runs.migrate()
    context.runStatus.migrate()
    val (runs0, status0) = (version(context.runs.table), version(context.runStatus.table))

    val atFirstJob = new AtomicReference[(Long, Long)]()
    val stage = groupStage { _ =>
      atFirstJob.compareAndSet(null,
        (version(context.runs.table), version(context.runStatus.table)))
    }
    stage.run(yes)

    assert(atFirstJob.get == ((runs0, status0 + 1)), "one runstatus commit opens every output")
    assert(version(context.runs.table) == runs0 + 1, "one runs commit records every output")
    assert(version(context.runStatus.table) == status0 + 2, "one runstatus commit ends every output")
    assert(context.runs.of(stage.getName).map(_.output).toSet == groups)
    val status = context.runStatus.of(stage.getName)
    assert(status.map(_.output).toSet == groups)
    assert(status.forall(r => r.started.isDefined && r.ended.isDefined &&
      !r.ended.get.isBefore(r.started.get)))
    assert(stage.getWork(yes).isEmpty)
  }

  test("a failed output job: processOutputs throws, no runs row lands, rows stay open, the next run rebuilds all") {
    val root = tmpDir("ledger-failure")
    implicit val context: Context = TestMethod.context(spark, root)
    groups.foreach(g => writeFile(root, s"a/$g/part-1"))
    context.runs.migrate()
    context.runStatus.migrate()
    val runs0 = version(context.runs.table)

    @volatile var failing = true
    val built = ConcurrentHashMap.newKeySet[String]()
    val stage = groupStage { output =>
      if (failing && output == "g2") throw new IllegalStateException(s"job $output failed")
      built.add(output)
    }
    val work = stage.getWork(yes)
    assert(work.keySet == groups)

    val err = intercept[IllegalStateException](stage.processOutputs(work, yes))
    assert(err.getMessage == "job g2 failed")
    assert(intercept[IllegalStateException](stage.run(yes)).getMessage == "job g2 failed")

    assert(version(context.runs.table) == runs0, "no runs commit for the failed batch")
    assert(context.runs.of(stage.getName).isEmpty)
    val status = context.runStatus.of(stage.getName)
    assert(status.map(_.output).toSet == groups)
    assert(status.forall(r => r.started.isDefined && r.ended.isEmpty))

    failing = false
    built.clear()
    assert(stage.getWork(yes) == work, "every output of the failed batch is still stale")
    stage.run(yes)
    assert(built.size == groups.size && groups.forall(built.contains))
    assert(stage.getWork(yes).isEmpty)
    assert(context.runStatus.of(stage.getName).forall(_.ended.isDefined))
  }

  test("getWork reprocesses an input whose recorded run timestamp equals its version") {
    val root = tmpDir("ledger-isafter")
    implicit val context: Context = TestMethod.context(spark, root)
    writeFile(root, "a/g1/part-1")
    val stage = groupStage(_ => ())
    val Seq(in) = stage.sources.flatMap(_.inputs(root)(spark))

    def recordRun(at: java.time.Instant): Unit = context.runs.table.upsert(Seq(
      RunRow(context.project, context.methodName, stage.getName, in.key, in.version, "g1", at)))

    recordRun(in.version)
    assert(stage.getWork(yes) == Map("g1" -> Set(in)), "equal timestamps reprocess")
    recordRun(in.version.plusMillis(1))
    assert(stage.getWork(yes).isEmpty, "a run strictly after the version is up to date")
    recordRun(in.version.minusMillis(1))
    assert(stage.getWork(yes) == Map("g1" -> Set(in)))
  }
}
