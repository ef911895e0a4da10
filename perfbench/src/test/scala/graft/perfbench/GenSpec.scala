package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the benchmark's inputs: the same seed must give
  * byte-identical inputs, and another seed other inputs.
  */
final class GenSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")

  /** Relative path -> bytes of every file under `root`. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private val shape = Gen.VariantShape(datasets = 3, ancestries = 2, variants = 200, rowsPerPart = 100)

  test("variant tree: same seed, byte-identical files; another seed, other files") {
    val a = tmp(); val b = tmp(); val c = tmp()
    Gen.variantTree(a, 7L, shape)
    Gen.variantTree(b, 7L, shape)
    Gen.variantTree(c, 8L, shape)
    assert(snapshot(a).size == 3 * 2 * 2)
    assert(snapshot(a) == snapshot(b))
    assert(snapshot(a).keySet == snapshot(c).keySet)
    assert(snapshot(a) != snapshot(c))
  }

  test("touch schedule: seeded, distinct outputs and inputs, and a touch keeps the bytes") {
    val outputs = Seq("AA", "AF", "EA")
    val inputs = Seq("ds00", "ds01", "ds02", "ds03")
    def sched(seed: Long, round: Int) = Gen.touchSchedule(seed, round, outputs, 2, _ => inputs, 2)
    assert(sched(7L, 3) == sched(7L, 3))
    assert((0 until 10).map(sched(7L, _)) != (0 until 10).map(sched(8L, _)))
    val s = sched(7L, 0)
    assert(s.size == 4 && s.distinct.size == 4 && s.map(_._1).distinct.size == 2)

    val root = tmp()
    val tree = Gen.variantTree(root, 7L, shape)
    val p = tree.metadata(tree.datasets.head, tree.ancestries.head)
    val before = Files.readAllBytes(p).toSeq
    val mtime = Files.getLastModifiedTime(p).toMillis
    Thread.sleep(20)
    Gen.touch(p)
    assert(Files.readAllBytes(p).toSeq == before)
    assert(Files.getLastModifiedTime(p).toMillis > mtime)
  }

  test("documents and term batches: seeded and shaped like the documents table") {
    assert(Gen.docs(7L, 0L, 300) == Gen.docs(7L, 0L, 300))
    assert(Gen.docs(7L, 0L, 300) != Gen.docs(8L, 0L, 300))
    assert(Gen.docs(7L, 0L, 300).map(_._1) == (0L until 300L))
    assert(Gen.docs(7L, 0L, 300).forall { case (_, t) =>
      val w = t.split(' ')
      w.length >= 10 && w.length <= 100 && w.forall(Gen.Vocab.contains)
    })
    assert(Gen.termBatch(7L, 3, 4) == Gen.termBatch(7L, 3, 4))
    assert(Gen.termBatch(7L, 3, 4) != Gen.termBatch(8L, 3, 4))
    assert(Gen.termBatch(7L, 3, 4).map(_._1).distinct == (12L until 16L))
  }
}
