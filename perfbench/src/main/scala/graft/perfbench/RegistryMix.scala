package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.SparkEntry
import graft.index.TextIndex
import graft.tools.GenData

/** Closed-loop passes over registry queries that reach the layers the
  * workloads' own steps skip: a measured-dispatch site with an iterative
  * loop (the DBSCAN auto and its connected components), and a streaming
  * ingest into a stored text index. The first pass is cold; the warm
  * passes give the `queries` layer's metrics. It runs as the last phase
  * of a traced `index_serve` run.
  */
object RegistryMix {

  val Queries: Seq[String] = Seq("v6_dbscan_auto", "s10_stream_text_index")

  /** Scale factor of the generated tables. */
  val Sf = 0.01

  /** The stored indexes those queries build and serve from. */
  private val ServedIndexes = Seq(TextIndex("s10srv_idx", 4))

  /** The tables those queries read. */
  private val Tables = Set("embeddings", "documents")

  /** Sample name of the request ids of the warm passes. */
  val WarmRequest = "queries.warm_request"

  def run(env: Env, warmPasses: Int): Unit = {
    val spark = env.spark
    val tr = env.tracer
    val data = env.dir.resolve("mix").toString
    env.op("mix tables")(GenData.generate(spark, data, Sf, Tables))
    // the seed fixes the order of the queries within every pass
    val order = new scala.util.Random(env.seed).shuffle(Queries)
    val hashes = scala.collection.mutable.Map.empty[String, Set[String]]

    def query(q: String, warm: Boolean): Unit = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      env.op(q) {
        val (rows, dt) = env.time()(tr.span(s"queries.$q") {
          SparkEntry.queries(q)(spark, data).collect()
        })
        hashes(q) = hashes.getOrElse(q, Set.empty) + digest(rows.map(_.toString))
        if (warm) env.add(s"queries.${q}_s", dt)
      }
      // persisted blocks the query left behind: counted, then released
      // so every query starts from the same state
      val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      env.add("leaked_rdds", leaked.size)
      leaked.values.foreach(_.unpersist(blocking = true))
    }

    def pass(warm: Boolean): Double = {
      tr.request += 1
      if (warm) env.add(WarmRequest, tr.request.toDouble)
      env.time()(tr.span("bench.mix")(order.foreach(query(_, warm))))._2
    }

    env.add("cold_pass_s", pass(warm = false))
    (1 to warmPasses).foreach(_ => env.add("mix_pass_s", pass(warm = true)))
    env.log("mix passes done")

    order.foreach { q =>
      env.check(s"$q returns the same result on every pass")(hashes.get(q).exists(_.size == 1))
    }
    ServedIndexes.foreach(_.drop(spark))
  }

  private def digest(rows: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update(r.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}
