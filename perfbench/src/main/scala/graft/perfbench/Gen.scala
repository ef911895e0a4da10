package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded, deterministic input generators for every workload.
  *
  * Every draw comes from a `SplittableRandom` seeded by (seed, purpose)
  * on the driver, and files are written with plain file IO, so the
  * same seed gives byte-identical inputs on any core count. The
  * program under test only ever sees the generated files or rows.
  */
object Gen {

  private def rng(seed: Long, purpose: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong)

  def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
  }

  /** Rewrite a file with its own bytes and move its mtime to now: the
    * input's version advances while its content stays the same.
    */
  def touch(p: Path): Unit = {
    Files.write(p, Files.readAllBytes(p))
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis))
  }

  /** `x` in [0, 1) with six decimals, as `%.6f` prints it. */
  private def fmt(x: Double): String = {
    val m = math.round(x * 1e6).toString
    "0." + "000000".substring(m.length) + m
  }

  // ---------------------------------------------------------------
  // freq_pipeline: variants/<dataset>/<ancestry>/{part-00000,metadata}

  final case class VariantShape(datasets: Int, ancestries: Int, variants: Int, rowsPerPart: Int)

  final case class VariantTree(root: Path, datasets: Seq[String], ancestries: Seq[String]) {
    def metadata(dataset: String, ancestry: String): Path =
      root.resolve(s"variants/$dataset/$ancestry/metadata")
    /** Input keys as the stage lists them (relative to the root). */
    def key(dataset: String, ancestry: String): String = s"variants/$dataset/$ancestry/metadata"
  }

  val Ancestries: Seq[String] = Seq("AA", "AF", "EA", "EU", "HS", "SA", "AM", "ME")
  private val Phenotypes = Seq("t2d", "bmi", "ldl")

  /** One JSON-lines part file and one metadata marker per (dataset,
    * ancestry). Variant ids come from a shared pool so datasets
    * overlap; a few frequencies are NaN or null, which the pipeline
    * filters.
    */
  def variantTree(root: Path, seed: Long, shape: VariantShape): VariantTree = {
    val r = rng(seed, "variants")
    val datasets = (0 until shape.datasets).map(i => f"ds$i%02d")
    val ancestries = Ancestries.take(shape.ancestries)
    def freq(): String = r.nextInt(100) match {
      case u if u < 3 => "NaN"
      case u if u < 5 => "null"
      case _          => fmt(0.001 + 0.498 * r.nextDouble())
    }
    for (d <- datasets; a <- ancestries) {
      val sb = new StringBuilder
      for (_ <- 0 until shape.rowsPerPart) {
        val v = r.nextInt(shape.variants)
        val ph = Phenotypes(r.nextInt(Phenotypes.size))
        val eaf = freq()
        val maf = if (r.nextInt(50) == 0) "null" else fmt(0.001 + 0.498 * r.nextDouble())
        sb ++= s"""{"varId":"v$v","dataset":"$d","ancestry":"$a","phenotype":"$ph","eaf":$eaf,"maf":$maf}""" + "\n"
      }
      write(root.resolve(s"variants/$d/$a/part-00000"), sb.toString)
      write(root.resolve(s"variants/$d/$a/metadata"),
        s"""{"name":"$d","samples":${100 + r.nextInt(9900)},"ancestry":"$a"}""" + "\n")
    }
    VariantTree(root, datasets, ancestries)
  }

  /** The inputs touched in round `round`: `nOutputs` distinct outputs,
    * and `nInputs` distinct inputs within each, drawn from
    * `inputsOf(output)`.
    */
  def touchSchedule(seed: Long, round: Int, outputs: Seq[String], nOutputs: Int,
                    inputsOf: String => Seq[String], nInputs: Int): Seq[(String, String)] = {
    val r = rng(seed, s"touch-$round")
    def pick[A](xs: Seq[A], n: Int): Seq[A] = {
      val buf = scala.collection.mutable.ArrayBuffer.from(xs)
      (0 until math.min(n, buf.size)).map(_ => buf.remove(r.nextInt(buf.size)))
    }
    pick(outputs, nOutputs).flatMap(o => pick(inputsOf(o), nInputs).map(o -> _))
  }

  // ---------------------------------------------------------------
  // index_serve: documents, query-term batches, append batches

  /** The documents-table vocabulary of the library's generated data. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  /** `n` documents with ids from `firstId`, shaped like the generated
    * `documents` table: 10-100 words over [[Vocab]], and about 5% near
    * duplicates of an earlier document in the same batch (same words,
    * last three replaced).
    */
  def docs(seed: Long, firstId: Long, n: Int): IndexedSeq[(Long, String)] = {
    val r = rng(seed, s"docs-$firstId")
    val words = new Array[IndexedSeq[String]](n)
    for (i <- 0 until n) {
      words(i) =
        if (i >= 20 && r.nextInt(100) < 5) {
          val src = words(r.nextInt(i))
          src.dropRight(3) ++ (0 until 3).map(_ => Vocab(r.nextInt(Vocab.size)))
        } else IndexedSeq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size)))
    }
    words.indices.map(i => (firstId + i, words(i).mkString(" ")))
  }

  /** Batch `b` of serving queries: `queries` rows of (query_id, term),
    * each query 1-3 distinct vocabulary terms.
    */
  def termBatch(seed: Long, b: Int, queries: Int): IndexedSeq[(Long, String)] = {
    val r = rng(seed, s"terms-$b")
    (0 until queries).flatMap { q =>
      val qid = b.toLong * queries + q
      val terms = scala.collection.mutable.LinkedHashSet.empty[String]
      val want = 1 + r.nextInt(3)
      while (terms.size < want) terms += Vocab(r.nextInt(Vocab.size))
      terms.toSeq.map(qid -> _)
    }
  }
}
