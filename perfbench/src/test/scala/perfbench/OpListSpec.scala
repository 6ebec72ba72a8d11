package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The op lists are pure functions of the seed. */
class OpListSpec extends AnyFunSuite {
  private val workloads = Seq("scan_mix", "cdc_upsert", "corpus_curate")

  test("the same seed gives an identical op list") {
    workloads.foreach { w =>
      assert(Gen.opsFor(w, 42) == Gen.opsFor(w, 42), w)
    }
  }

  test("a different seed gives a different op list") {
    workloads.foreach { w =>
      assert(Gen.opsFor(w, 42) != Gen.opsFor(w, 43), w)
    }
  }

  test("scan_mix holds 7 point, 2 range and 1 full op in every block of ten") {
    Gen.scanMixOps(7, 1000).grouped(10).foreach { block =>
      assert(block.map(_.cls).groupBy(identity).view.mapValues(_.size).toMap ==
        Map("point" -> 7, "range" -> 2, "full" -> 1))
    }
  }

  test("cdc_upsert follows every write with a read and compacts every few writes") {
    val ops = Gen.cdcOps(7, 40)
    assert(ops.count(_.isWrite) == 40)
    assert(ops.count(_ == CompactOp) == 40 / Gen.CompactEvery)
    ops.sliding(2).foreach { case Seq(a, b) =>
      if (a.isWrite || a == CompactOp) assert(b == ReadOp)
    }
    ops.collect { case UpsertOp(keys, _) => keys }.foreach { keys =>
      assert(keys.distinct.size == keys.size && keys.size == Gen.CdcBatch)
    }
  }
}
