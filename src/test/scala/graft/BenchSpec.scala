package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.Entry

/** Bench's stdout line: the length-tracking admission against the form it
  * replaced, which re-rendered the whole line at every step. */
class BenchSpec extends AnyFunSuite {

  def reference(head: String, entries: IndexedSeq[Entry], budget: Int): String = {
    val byMinDesc = entries.zipWithIndex.sortBy { case (e, i) => (-e.min, i) }
    def lineOf(objIdx: Set[Int], csvIdx: Set[Int]): String = {
      val obj = entries.zipWithIndex
        .collect { case (e, i) if objIdx(i) => e.obj }.mkString("{", ",", "}")
      val csv = entries.zipWithIndex
        .collect { case (e, i) if csvIdx(i) => e.csv }.mkString("\"", ",", "\"")
      val qtrunc = entries.length - objIdx.size - csvIdx.size
      s"""{$head,"queries":$obj,"qrest":$csv,"qtrunc":$qtrunc}"""
    }
    var objIdx = Set.empty[Int]
    var csvIdx = entries.indices.toSet
    byMinDesc.reverseIterator.takeWhile(_ => lineOf(objIdx, csvIdx).length > budget)
      .foreach { case (_, i) => csvIdx -= i }
    byMinDesc.foreach { case (_, i) =>
      if (csvIdx(i) && lineOf(objIdx + i, csvIdx - i).length <= budget) {
        objIdx += i; csvIdx -= i
      }
    }
    lineOf(objIdx, csvIdx)
  }

  test("stdout line admission is byte-identical to re-rendering at every step") {
    val rnd = new scala.util.Random(7)
    val head = """"metric":"total","value":12.5,"unit":"sec","cal":[1.2,0.8,4,4,0.5],"failed":[],"sf":"sf0.1""""
    for (n <- Seq(0, 1, 2, 7, 40, 231); budget <- Seq(80, 150, 400, 1900, 20000)) {
      val entries = (0 until n).map { i =>
        // a fifth of the entries tie at 0.5 s, and some render identically
        val min = if (rnd.nextInt(5) == 0) 0.5 else math.round(rnd.nextDouble() * 2000) / 100.0
        val name = s"q${i % 150}_" + "x" * rnd.nextInt(24)
        Entry(min, "\"" + name + "\":" + min, s"${i % 150}:${math.round(min * 100)}")
      }
      val got = Bench.stdoutLine(head, entries, budget)
      assert(got == reference(head, entries, budget), s"n=$n budget=$budget")
      if (budget >= 400) assert(got.length <= budget)
    }
  }
}
