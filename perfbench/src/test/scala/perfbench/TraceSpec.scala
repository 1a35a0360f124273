package perfbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with LocalSpark {

  test("a traced ETL run emits one span per layer under its root") {
    val truth = EtlGen.generate(new File(work, "in"), smallSizes, seed = 5)
    val in = EtlWorkload.Inputs(new File(work, "in").getPath)
    val tracer = new Tracer(spark)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val (root, b) = EtlWorkload.runTraced(spark, tracer, run = 1, in,
      new File(work, "out").getPath)
    assert(root.name == "etl" && root.parent.isEmpty)
    val layers = tracer.all.filter(_.parent.contains(root.id))
    assert(layers.map(_.name) ==
      Seq("extract", "wikiclean", "merge", "ratings", "load"))
    assert(tracer.all.forall(_.run == 1))
    // the layers cover the run: only the gaps between them are root time
    val covered = layers.map(tracer.selfSeconds).sum
    assert(covered / root.seconds >= 0.9)
    layers.foreach { l =>
      assert(listener.get(spark, Tracer.group(1, l.name)).jobs > 0, l.name)
    }
    assert(b.movies == truth.joinHits && b.survivors == truth.f1Survivors)
    assert(b.wikiRows == truth.wikiRecords && b.groups == truth.ratingGroups)
    assert(b.matched == truth.matchedTotal)
    assert(tracer.jsonLines.size == 6)
  }

  test("self time subtracts the children's union") {
    val t = new Tracer(spark)
    val (_, outer) = t.span(0, "outer") {
      t.span(0, "a")(Thread.sleep(30))
      t.span(0, "b")(Thread.sleep(30))
    }
    val kids = t.all.filter(_.parent.contains(outer.id))
    val self = t.selfSeconds(outer)
    assert(math.abs(self - (outer.seconds - kids.map(_.seconds).sum)) < 1e-9)
  }
}
