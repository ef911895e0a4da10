package graft.perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.index.TextIndex
import graft.text.Bm25

/** Reads beside writes on a stored text index: build a [[TextIndex]]
  * over a documents corpus, then one closed-loop client serves BM25
  * query batches while appends of new documents and compactions run
  * between them. A round is: append one batch, serve once, compact.
  * A traced run ends with the registry mix ([[RegistryMix]]).
  */
object IndexServe extends Workload {
  val name = "index_serve"

  /** Documents in the base corpus, as many as the sf0.1 `documents` table. */
  val BaseDocs = 5000
  val AppendDocs = 250
  val QueriesPerBatch = 4
  val CheckedQueries = 1
  val K = 10
  val Prefix = "pb_text"
  /** Rounds a run makes at least; the first [[WarmRounds]] only warm up. */
  val MinRounds = 6
  val WarmRounds = 2

  def run(env: Env): Unit = {
    val spark = env.spark
    import spark.implicits._
    val tr = env.tracer

    val idx = TextIndex(Prefix)
    // set-up, three times: write the generated corpus as the parquet
    // table the index is built from, and build the index over it. Each
    // build replaces the one before; the first is also the warm-up of
    // the index's own code
    val corpus = (1 to 3).map { i =>
      val p = env.dir.resolve(s"setup-$i/documents").toString
      env.time("setup_s") {
        Gen.docs(env.seed, 0L, BaseDocs).toDF("doc_id", "text").coalesce(1).write.parquet(p)
        val c = spark.read.parquet(p)
        idx.build(c)
        c
      }._1
    }.last
    val docs = scala.collection.mutable.ArrayBuffer.from(Gen.docs(env.seed, 0L, BaseDocs))
    env.log("set-up done")

    val wh = Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val tables = idx.tableNames ++ idx.derivedTableNames
    var batch = 0
    // batches to check after the step: (batch, result, documents indexed)
    val pending = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Row], Int)]

    def serve(timed: Boolean): Unit = {
      val b = batch
      batch += 1
      val q = Gen.termBatch(env.seed, b, QueriesPerBatch).toDF("query_id", "term")
      env.op(s"serve batch $b") {
        val (rows, _) = env.time(if (timed) "serve_s" else "")(tr.span("text.serve") {
          Bm25.topKIndexedBatch(spark, idx.prefix, q, K).collect()
        })
        if (tr.on) env.add("text.result_rows", rows.length)
        if (checked(env.seed, b)) pending += ((b, rows, docs.size))
      }
    }

    /** Build the index from scratch, replacing any earlier build. */
    def build(): Unit = env.op("index build") {
      tr.request += 1
      env.time("index_build_s")(tr.span("bench.build")(tr.span("index.build")(idx.build(corpus))))
    }

    val t0 = System.nanoTime
    tr.on = env.trace
    var r = 0
    // the first rounds' appends, serves and compacts are their first
    // uses in the run: they warm up, and the medians leave them out
    while (r < math.max(env.minSteps, MinRounds) || env.timeLeft(t0)) {
      val batchDocs = Gen.docs(env.seed, BaseDocs.toLong + r.toLong * AppendDocs, AppendDocs)
      env.step(r) {
        val appended = env.op(s"append $r") {
          env.time(if (r >= WarmRounds) "append_s" else "")(tr.span("index.append")(idx.append(batchDocs.toDF("doc_id", "text"))))._2
        }
        docs ++= batchDocs
        serve(timed = r >= WarmRounds)
        val before = tr.span("bench.check")(rowCounts(env, idx))
        val compacted = env.op(s"compact $r") {
          env.time(if (r >= WarmRounds) "compact_s" else "")(tr.span("index.compact")(idx.compact(spark)))._2
        }
        env.check(s"compact $r leaves row counts unchanged") {
          tr.span("bench.check")(rowCounts(env, idx)) == before
        }
        for (a <- appended; c <- compacted if r >= WarmRounds) env.add("maint_round_s", a + c)
      }
      env.log(s"round $r done")
      tr.span("bench.check") {
        pending.foreach { case (b, rows, n) => checkServe(env, b, rows, docs.take(n).toSeq) }
      }
      pending.clear()
      env.log(s"checks $r done")
      // the stored state after a fixed number of rounds, so it does not
      // depend on how many rounds fit in the measuring time
      if (r == 1) {
        val bytes = tables.map(t => Host.du(wh.resolve(t))).sum
        env.set("stored_bytes", bytes)
        env.set("index.bytes", bytes)
        env.set("index.files", tables.map(t => Host.files(wh.resolve(t))).sum)
      }
      r += 1
    }
    // three timed builds from scratch at the end, when the JVM is as warm
    // as it gets in a run: a build right after the set-up still speeds up
    // from one to the next
    (1 to 3).foreach(_ => build())
    env.log("builds done")
    idx.drop(spark)
    if (env.trace) RegistryMix.run(env, warmPasses = 1)
  }

  /** The checked batch: a seeded one of those served in the first four
    * rounds (batch `r` is served in round `r`, after its append), so the
    * check covers built and appended documents.
    */
  private def checked(seed: Long, b: Int): Boolean =
    b == new java.util.SplittableRandom(seed).nextInt(4)

  /** Rows of each table `compact` rewrites. */
  private def rowCounts(env: Env, idx: TextIndex): Seq[Long] =
    idx.tableNames.map(t => env.spark.table(t).count())

  /** The batch's ranking for every query equals the direct BM25 top-k
    * over the documents indexed so far.
    */
  private def checkServe(env: Env, b: Int, rows: Array[Row], docs: Seq[(Long, String)]): Unit = {
    val spark = env.spark
    import spark.implicits._
    val corpus: DataFrame = docs.toDF("doc_id", "text").cache()
    val byQuery = Gen.termBatch(env.seed, b, QueriesPerBatch).groupBy(_._1).toSeq.sortBy(_._1)
    val sample = new scala.util.Random(env.seed * 7 + b).shuffle(byQuery).take(CheckedQueries)
    env.check(s"serve batch $b equals the direct Bm25.topK") {
      sample.forall { case (qid, qt) =>
        val expected = Bm25.topK(corpus, qt.map(_._2), K)
          .select(col("doc_id"), col("score")).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val got = rows.filter(_.getAs[Long]("query_id") == qid)
          .sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
        got == expected
      }
    }
    corpus.unpersist(blocking = true)
  }
}
