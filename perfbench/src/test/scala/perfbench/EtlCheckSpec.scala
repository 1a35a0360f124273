package perfbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

class EtlCheckSpec extends AnyFunSuite with LocalSpark {

  private lazy val truth =
    EtlGen.generate(new File(work, "in"), smallSizes, seed = 11)
  private lazy val in = EtlWorkload.Inputs(new File(work, "in").getPath)
  private lazy val out = {
    val o = new File(work, "out").getPath
    truth // inputs first
    EtlWorkload.runOnce(spark, in, o)
    o
  }

  test("a correct run passes every check") {
    val (failures, written) = EtlWorkload.check(spark, out, truth)
    assert(failures.isEmpty, failures)
    assert(written.rows == 2 * truth.joinHits + truth.ratings)
    assert(written.files > 0 && written.bytes > 0)
  }

  test("a wrong truth value drives failed_frac above 0") {
    val wrong = Seq(
      truth.copy(joinHits = truth.joinHits + 1),
      truth.copy(ratings = truth.ratings - 1),
      truth.copy(matchedByValue =
        truth.matchedByValue.updated(3, truth.matchedByValue(3) + 1)))
    val tally = new Main.Tally
    tally.record("right", EtlWorkload.check(spark, out, truth)._1)
    wrong.zipWithIndex.foreach { case (t, i) =>
      tally.record(s"wrong $i", EtlWorkload.check(spark, out, t)._1)
    }
    assert(tally.attempted == 4)
    assert(tally.failed == 3)
    assert(tally.failed.toDouble / tally.attempted > 0)
  }
}
