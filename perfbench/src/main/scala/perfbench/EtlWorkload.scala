package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.etl.{Extract, Load, Merge, MovieEtl, Ratings, WikiClean}

/** Sink output as read back after a run. */
final case class Written(rows: Long, bytes: Long, files: Long)

/** The movie ETL driven through the engine's public layer functions, with
  * the output checks that feed `failed`.
  */
object EtlWorkload {

  val tables: Seq[String] = Seq("movies", "movies_ratings", "ratings")

  /** The 31-column output contract (challenge.py:265-288 order and names). */
  val movieColumns: Seq[String] = Seq("imdb_id", "kaggle_id", "title",
    "original_title", "tagline", "belongs_to_collection", "wikipedia_url",
    "imdb_link", "runtime", "budget", "revenue", "release_date", "popularity",
    "vote_average", "vote_count", "genres", "original_language", "overview",
    "spoken_languages", "country", "production_companies",
    "production_countries", "distributor", "producers", "director",
    "starring", "cinematography", "editors", "writers", "composers",
    "based_on")

  val ratingColumns: Seq[String] =
    EtlGen.ratingValues.map(v => s"rating_$v")

  final case class Inputs(dir: String) {
    def wiki: String = s"$dir/${EtlGen.wikiFile}"
    def kaggle: String = s"$dir/${EtlGen.kaggleFile}"
    def ratings: String = s"$dir/${EtlGen.ratingsFile}"
  }

  /** The sink: one parquet directory per table on the local file system
    * (no fsync).
    */
  def load(dir: String, dfs: Seq[DataFrame]): Unit =
    tables.zip(dfs).foreach { case (t, df) => Load.parquet(df, s"$dir/$t") }

  /** One untraced run: the pipeline as `MovieEtl.run` composes it, then
    * the load of its three outputs.
    */
  def runOnce(spark: SparkSession, in: Inputs, out: String): Unit = {
    val r = MovieEtl.run(spark, in.wiki, in.kaggle, in.ratings)
    load(out, Seq(r.movies, r.moviesWithRatings, r.ratings))
  }

  /** Counts the traced run measures at layer boundaries. */
  final case class Boundary(
      wikiReadBytes: Long, ratingsReadBytes: Long,
      extractReadBytes: Long,
      wikiRows: Long, survivors: Long, movies: Long, groups: Long,
      matched: Long)

  /** One traced run: the same layer calls in `MovieEtl.run`'s order, each
    * layer's output forced with an eager local checkpoint inside its own
    * span, so lazy layers get their own time.
    */
  def runTraced(spark: SparkSession, tracer: Tracer, run: Int, in: Inputs,
      out: String): (Span, Boundary) = {
    def ck(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    var reads = Seq.empty[Long]
    var extractRead = 0L
    val ((wikiRaw, wiki, movies, counts, withRatings), root) =
      tracer.span(run, "etl") {
        val ((wikiRaw, kaggleRaw, ratings), _) = tracer.span(run, "extract") {
          val r0 = Probe.fsBytesRead()
          val w = ck(Extract.readWikiJson(spark, in.wiki))
          val r1 = Probe.fsBytesRead()
          val k = ck(Extract.readCsv(spark, in.kaggle))
          val r2 = Probe.fsBytesRead()
          val r = ck(Extract.readCsv(spark, in.ratings))
          val r3 = Probe.fsBytesRead()
          reads = Seq(r1 - r0, r2 - r1, r3 - r2)
          extractRead = r3 - r0
          (w, k, r)
        }
        val (wiki, _) = tracer.span(run, "wikiclean") {
          ck(WikiClean.clean(wikiRaw))
        }
        val (movies, _) = tracer.span(run, "merge") {
          ck(Merge.project(Merge.fillMissingKaggle(
            Merge.join(wiki, Merge.cleanKaggle(kaggleRaw)))))
        }
        val ((counts, withRatings), _) = tracer.span(run, "ratings") {
          val c = ck(Ratings.ratingCounts(ratings))
          (c, ck(Ratings.attach(movies, c)))
        }
        tracer.span(run, "load")(load(out, Seq(movies, withRatings, ratings)))
        (wikiRaw, wiki, movies, counts, withRatings)
      }
    // boundary counts, taken after the root span closed (checkpoints make
    // them cheap)
    val matched = withRatings
      .agg(ratingColumns.map(c => sum(col(s"`$c`"))).reduce(_ + _))
      .head().getLong(0)
    (root, Boundary(reads(0), reads(2), extractRead,
      wikiRaw.count(), wiki.count(), movies.count(), counts.count(),
      matched))
  }

  // ---- output checks (outside the timed window) ---------------------------

  private def expect(failures: collection.mutable.Buffer[String],
      what: String, got: Any, want: Any): Unit =
    if (got != want) failures += s"$what: got $got, want $want"

  /** Read the three tables back and compare them with the planted truth.
    * Row counts and columns come from the parquet footers; only the rating
    * sums read data. Returns the failures (empty when correct) and what the
    * sink wrote.
    */
  def check(spark: SparkSession, dir: String, truth: EtlTruth)
  : (Seq[String], Written) = {
    val f = collection.mutable.ArrayBuffer.empty[String]
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = tables.map(t => dirFiles(new File(dir, t))
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName))
    def footer(p: File) = {
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p.getPath), conf))
      try (r.getRecordCount,
        r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName))
      finally r.close()
    }
    val footers = parts.map(_.map(footer))
    val counts = footers.map(_.map(_._1).sum)
    def columns(i: Int) = footers(i).headOption.fold(Seq.empty[String])(_._2.toSeq)
    val sums = spark.read.parquet(s"$dir/movies_ratings")
      .agg(sum(col("`rating_0.5`")),
        ratingColumns.tail.map(c => sum(col(s"`$c`"))): _*)
      .head().toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long]))
    expect(f, "movies rows", counts(0), truth.joinHits)
    expect(f, "movies_ratings rows", counts(1), truth.joinHits)
    expect(f, "ratings rows", counts(2), truth.ratings)
    expect(f, "movies columns", columns(0), movieColumns)
    expect(f, "movies_ratings columns", columns(1),
      movieColumns ++ ratingColumns)
    expect(f, "pivot sums by rating value", sums, truth.matchedByValue)
    val files = dirFiles(new File(dir))
    (f.toSeq, Written(counts.sum, files.map(_.length()).sum,
      parts.map(_.size.toLong).sum))
  }

  private def dirFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(x =>
      if (x.isDirectory) dirFiles(x) else Seq(x))

  /** Remove a directory tree. */
  def rmrf(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }
}
