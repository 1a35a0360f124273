package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Extract, MovieEtl, Ratings, WikiClean}

class EtlGenSpec extends AnyFunSuite with LocalSpark {

  private lazy val dir = new File(work, "in")
  private lazy val truth = EtlGen.generate(dir, smallSizes, seed = 7)
  private lazy val in = EtlWorkload.Inputs(dir.getPath)

  test("same seed, same bytes; another seed, other bytes") {
    val again = EtlGen.generate(new File(work, "again"), smallSizes, seed = 7)
    val other = EtlGen.generate(new File(work, "other"), smallSizes, seed = 8)
    assert(again == truth)
    Seq(EtlGen.wikiFile, EtlGen.kaggleFile, EtlGen.ratingsFile).foreach { f =>
      val a = Files.readAllBytes(new File(dir, f).toPath)
      assert(a.sameElements(Files.readAllBytes(new File(work, s"again/$f").toPath)), f)
      assert(!a.sameElements(Files.readAllBytes(new File(work, s"other/$f").toPath)), f)
    }
  }

  test("the manifest is written beside the inputs") {
    val m = new String(Files.readAllBytes(
      new File(dir, EtlGen.manifestFile).toPath), "UTF-8")
    assert(m.trim == truth.json)
  }

  test("the inputs carry the forms the pipeline must handle") {
    val wiki = new String(Files.readAllBytes(
      new File(dir, EtlGen.wikiFile).toPath), "UTF-8")
    Seq("\"No. of episodes\"", "\"Director\"", "\"Productioncompany \"",
      "billion", "million[", "–", "\"Running time\"", "\"Release date\": [")
      .foreach(s => assert(wiki.contains(s), s))
    assert(truth.kaggleKept < truth.kaggleRows, "no adult=True rows")
    assert(truth.joinHits > 0 && truth.matchedTotal > 0)
  }

  test("the pipeline reproduces the planted truth at 1/1000 scale") {
    val raw = Extract.readWikiJson(spark, in.wiki)
    assert(raw.count() == truth.wikiRecords)
    assert(WikiClean.clean(raw).count() == truth.f1Survivors)
    val r = MovieEtl.run(spark, in.wiki, in.kaggle, in.ratings)
    assert(r.movies.count() == truth.joinHits)
    assert(r.ratings.count() == truth.ratings)
    assert(Ratings.ratingCounts(r.ratings).count() == truth.ratingGroups)
    val sums = r.moviesWithRatings.agg(sum(col("`rating_0.5`")),
        EtlWorkload.ratingColumns.tail.map(c => sum(col(s"`$c`"))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    assert(sums == truth.matchedByValue)
  }
}
