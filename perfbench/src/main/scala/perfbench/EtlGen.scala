package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Record counts of one generated ETL input set. */
final case class EtlSizes(wiki: Int, kaggle: Int, ratings: Int)

/** What the generator planted, computed while writing (never by running
  * the pipeline): the checks compare the pipeline's outputs against it.
  *
  * @param f1Survivors   wiki records the F1 movie filter keeps
  * @param joinHits      movie rows after the wiki⋈kaggle join (duplicate
  *                      wiki imdb ids fan out, as the reference does)
  * @param matchedByValue per rating value 0.5..5.0, the sum over movie rows
  *                      of the ratings whose movieId equals the kaggle id
  * @param ratingGroups  distinct movieIds in the ratings file
  */
final case class EtlTruth(
    wikiRecords: Int,
    f1Survivors: Int,
    kaggleRows: Int,
    kaggleKept: Int,
    joinHits: Long,
    ratings: Long,
    ratingGroups: Long,
    matchedByValue: Seq[Long],
    wikiBytes: Long,
    kaggleBytes: Long,
    ratingsBytes: Long) {

  def inputRecords: Long = wikiRecords.toLong + kaggleRows + ratings
  def inputBytes: Long = wikiBytes + kaggleBytes + ratingsBytes
  def matchedTotal: Long = matchedByValue.sum

  def json: String = Json.obj(
    "wiki_records" -> wikiRecords, "f1_survivors" -> f1Survivors,
    "kaggle_rows" -> kaggleRows, "kaggle_kept" -> kaggleKept,
    "join_hits" -> joinHits, "ratings" -> ratings,
    "rating_groups" -> ratingGroups,
    "matched_by_value" -> matchedByValue, "matched_total" -> matchedTotal,
    "wiki_bytes" -> wikiBytes, "kaggle_bytes" -> kaggleBytes,
    "ratings_bytes" -> ratingsBytes)
}

/** Seeded generator for the movie ETL's three inputs. It reproduces the
  * reference data's shapes (FIXTURES.md A1-A3): polymorphic wiki records
  * (string vs string-array values, synonym keys, alternate titles, TV rows,
  * duplicate imdb ids, every money/date/running-time form), Kaggle rows
  * including `adult=True` and zero-valued numerics, and a skewed ratings
  * file over all ten rating values. Same seed and sizes, same bytes.
  */
object EtlGen {

  val wikiFile = "wikipedia.movies.json"
  val kaggleFile = "movies_metadata.csv"
  val ratingsFile = "ratings.csv"
  val manifestFile = "manifest.json"

  val ratingValues: Seq[Double] =
    Seq(0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0)
  // roughly MovieLens' rating histogram (mean ≈ 3.5)
  private val ratingWeights =
    Array(1.1, 3.4, 1.6, 7.2, 4.9, 20.1, 12.0, 26.4, 8.6, 14.7)

  private val moneyForms = Array(
    (r: SplittableRandom) => s"$$${1 + r.nextInt(300)} million",
    (r: SplittableRandom) => s"$$${1 + r.nextInt(3)}.${r.nextInt(10)} billion",
    (r: SplittableRandom) => "$" + fmt("%,d", 1000000 + r.nextInt(900000000)),
    (r: SplittableRandom) => s"$$${5 + r.nextInt(20)}–${30 + r.nextInt(20)} million",
    (r: SplittableRandom) => s"$$${1 + r.nextInt(90)} million[${1 + r.nextInt(9)}]",
    (_: SplittableRandom) => "N/A")

  private val months = Array("January", "February", "March", "April", "May",
    "June", "July", "August", "September", "October", "November",
    "December")

  private def date(r: SplittableRandom): String = {
    val y = 1930 + r.nextInt(90)
    val m = 1 + r.nextInt(12)
    val d = 1 + r.nextInt(28)
    r.nextInt(6) match {
      case 0 => s"${months(m - 1)} $d, $y"
      case 1 => fmt("%d-%02d-%02d", y, m, d)
      case 2 => fmt("%d.%02d.%02d", y, m, d)
      case 3 => s"${months(m - 1)} $y"
      case 4 => s"$y"
      case _ => "TBA"
    }
  }

  private def runningTime(r: SplittableRandom): String = r.nextInt(6) match {
    case 0 | 1 => s"${60 + r.nextInt(120)} minutes"
    case 2 => s"${1 + r.nextInt(2)} hour ${r.nextInt(60)} minutes"
    case 3 => s"${1 + r.nextInt(2)} h ${r.nextInt(60)} m"
    case 4 => s"${60 + r.nextInt(90)} m"
    case _ => "unknown"
  }

  private val firstNames = Array("Ann", "Bob", "Cid", "Dana", "Eli", "Fay",
    "Gus", "Hal", "Ida", "Jon", "Kim", "Lou", "Max", "Nia", "Oto", "Pia")

  private def person(r: SplittableRandom): String =
    s"${firstNames(r.nextInt(firstNames.length))} ${
      ('A' + r.nextInt(26)).toChar}${r.nextInt(1000)}"

  /** A JSON value: one string, or (with probability `pList`) a list. */
  private def people(r: SplittableRandom, pList: Double): String =
    if (r.nextDouble() < pList)
      Json.arr((0 to r.nextInt(3)).map(_ => Json.str(person(r))))
    else Json.str(person(r))

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)

  /** Locale-independent formatting: the bytes must not depend on the host. */
  private def fmt(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern,
      args.map(_.asInstanceOf[AnyRef]): _*)

  private def imdb(n: Int): String = fmt("tt%07d", n)

  def generate(dir: File, sizes: EtlSizes, seed: Long): EtlTruth = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)

    // ---- wiki: F1 survivors carry an imdb number; ~1% repeat an earlier
    // survivor's number (identical re-scrapes → join fan-out)
    val survivorImdb = ArrayBuffer.empty[Int]
    val distinctImdb = ArrayBuffer.empty[Int]
    var nextImdb = 100000
    val w = writer(new File(dir, wikiFile))
    try {
      w.write("[\n")
      for (i <- 0 until sizes.wiki) {
        val u = rnd.nextDouble()
        val tv = u < 0.03
        val noDirector = u >= 0.03 && u < 0.04
        val noLink = u >= 0.04 && u < 0.05
        val survivor = u >= 0.05
        val reuse =
          survivor && distinctImdb.nonEmpty && rnd.nextDouble() < 0.01
        val imdbNo =
          if (reuse) distinctImdb(rnd.nextInt(distinctImdb.length))
          else { nextImdb += 1; nextImdb }
        if (survivor) {
          if (!reuse) distinctImdb += imdbNo
          survivorImdb += imdbNo
        }
        val f = ArrayBuffer.empty[(String, String)]
        def put(k: String, v: String): Unit = f += k -> v
        def maybe(p: Double)(k: String, v: => String): Unit =
          if (rnd.nextDouble() < p) put(k, v)
        put("url", Json.str(s"https://en.wikipedia.org/wiki/Film_$i"))
        put("year", (1930 + rnd.nextInt(90)).toString)
        if (!noLink)
          put("imdb_link", Json.str(s"https://www.imdb.com/title/${imdb(imdbNo)}/"))
        put("title", Json.str(s"Film $i"))
        if (!noDirector)
          put(if (rnd.nextDouble() < 0.88) "Directed by" else "Director",
            people(rnd, 0.1))
        if (tv) {
          put("No. of episodes", Json.str((1 + rnd.nextInt(200)).toString))
          put("No. of seasons", Json.str((1 + rnd.nextInt(9)).toString))
          put("Created by", people(rnd, 0.3))
        }
        maybe(0.9)("Starring", people(rnd, 0.9))
        rnd.nextInt(20) match {
          case n if n < 14 => put("Produced by", people(rnd, 0.6))
          case 14 => put("Producer", people(rnd, 0.2))
          case 15 => put("Producer(s)", people(rnd, 0.5))
          case _ =>
        }
        val writerKeys = Array("Written by", "Screenplay by", "Story by",
          "Screen story by", "Adaptation by")
        if (rnd.nextDouble() < 0.75) {
          val wk = writerKeys(rnd.nextInt(writerKeys.length))
          put(wk, people(rnd, 0.4))
          // a second writer key: the last-wins precedence decides
          if (rnd.nextDouble() < 0.2 && wk != "Story by")
            put("Story by", people(rnd, 0.3))
        }
        if (rnd.nextDouble() < 0.75) put("Music by", people(rnd, 0.2))
        else maybe(0.08)("Theme music composer", people(rnd, 0.1))
        maybe(0.7)("Cinematography", people(rnd, 0.1))
        maybe(0.7)("Edited by", people(rnd, 0.1))
        maybe(0.75)("Distributed by", people(rnd, 0.2))
        rnd.nextInt(10) match {
          case n if n < 4 => put("Productioncompany ", people(rnd, 0.1))
          case n if n < 6 => put("Productioncompanies ", people(rnd, 0.8))
          case _ =>
        }
        val dateKey = rnd.nextInt(100) match {
          case n if n < 76 => Some("Release date")
          case n if n < 81 => Some("Released")
          case n if n < 83 => Some("Release Date")
          case n if n < 85 => Some("Original release")
          case _ => None
        }
        dateKey.foreach { k =>
          put(k,
            if (rnd.nextDouble() < 0.3)
              Json.arr(Seq(date(rnd), "(", date(rnd), ")").map(Json.str))
            else Json.str(date(rnd)))
        }
        rnd.nextInt(100) match {
          case n if n < 80 => put("Running time", Json.str(runningTime(rnd)))
          case n if n < 84 => put("Length", Json.str(runningTime(rnd)))
          case _ =>
        }
        if (rnd.nextDouble() < 0.7) put("Country", Json.str("United States"))
        else maybe(0.1)("Country of origin", Json.str("France"))
        maybe(0.75)("Language",
          if (rnd.nextDouble() < 0.2) Json.arr(Seq("English", "French")
            .map(Json.str))
          else Json.str("English"))
        def money: String = {
          val v = moneyForms(rnd.nextInt(moneyForms.length))(rnd)
          if (rnd.nextDouble() < 0.1)
            Json.arr(Seq(v, "(", "estimated", ")").map(Json.str))
          else Json.str(v)
        }
        maybe(0.6)("Budget", money)
        maybe(0.65)("Box office", money)
        maybe(0.3)("Based on", people(rnd, 0.5))
        maybe(0.04)("Also known as", Json.str(s"Aka $i"))
        maybe(0.02)("Original title", Json.str(s"Original $i"))
        maybe(0.01)("Hangul", Json.str("영화"))
        maybe(0.005)("McCune–Reischauer", Json.str(s"Yŏnghwa $i"))
        maybe(0.01)("Japanese", Json.str("映画"))
        w.write(f.map { case (k, v) => s"${Json.str(k)}: $v" }
          .mkString(if (i == 0) " {" else ",\n {", ", ", "}"))
      }
      w.write("\n]\n")
    } finally w.close()

    // ---- kaggle: ~85% of the distinct survivor imdb ids get a row; the
    // rest of the file is imdb ids the wiki side never mentions
    val matched = distinctImdb.filter(_ => rnd.nextDouble() < 0.85)
    val kaggleImdb = (matched.iterator ++
      Iterator.from(5000000)).take(sizes.kaggle).toArray
    val adult = Array.fill(kaggleImdb.length)(rnd.nextDouble() < 0.005)
    val kaggleIdOf = new java.util.HashMap[Int, Int]() // imdb → kaggle id
    val k = writer(new File(dir, kaggleFile))
    try {
      k.write("adult,belongs_to_collection,budget,genres,homepage,id,imdb_id," +
        "original_language,original_title,overview,popularity,poster_path," +
        "production_companies,production_countries,release_date,revenue," +
        "runtime,spoken_languages,status,tagline,title,video,vote_average," +
        "vote_count\n")
      for (j <- kaggleImdb.indices) {
        val id = j + 1
        if (!adult(j)) kaggleIdOf.put(kaggleImdb(j), id)
        val zero = rnd.nextDouble()
        val budget = if (zero < 0.3) 0 else 100000 + rnd.nextInt(200000000)
        val revenue =
          if (rnd.nextDouble() < 0.3) 0.0 else rnd.nextInt(900000000).toDouble
        val runtime =
          if (rnd.nextDouble() < 0.05) 0.0 else (60 + rnd.nextInt(120)).toDouble
        val row = Seq(
          if (adult(j)) "True" else "False",
          if (rnd.nextDouble() < 0.1)
            s"""{"id": ${rnd.nextInt(90000)}, "name": "Collection $j"}"""
          else "",
          budget.toString,
          s"""[{"id": 18, "name": "Drama"}, {"id": ${rnd.nextInt(99)}, "name": "Genre"}]""",
          if (rnd.nextDouble() < 0.2) s"http://film$j.example.com" else "",
          id.toString,
          imdb(kaggleImdb(j)),
          "en",
          s"Original $j",
          s"Overview of film $j, told in ${1 + rnd.nextInt(9)} acts",
          fmt("%.6f", rnd.nextDouble() * 30),
          s"/p$j.jpg",
          s"""[{"name": "Studio ${rnd.nextInt(500)}", "id": ${rnd.nextInt(9000)}}]""",
          """[{"iso_3166_1": "US", "name": "United States of America"}]""",
          fmt("%d-%02d-%02d", 1930 + rnd.nextInt(90), 1 + rnd.nextInt(12),
            1 + rnd.nextInt(28)),
          revenue.toString,
          runtime.toString,
          """[{"iso_639_1": "en", "name": "English"}]""",
          "Released",
          if (rnd.nextDouble() < 0.6) s"Tagline $j" else "",
          s"Movie $j",
          "False",
          fmt("%.1f", rnd.nextInt(100) / 10.0),
          rnd.nextInt(5000).toString)
        k.write(row.map(csvField).mkString(","))
        k.write('\n')
      }
    } finally k.close()

    // ---- truth of the join: every survivor row whose imdb id has a kept
    // kaggle row is a movie row; multiplicity per kaggle id for the pivot
    val multiplicity = new Array[Int](kaggleImdb.length + 2)
    var joinHits = 0L
    survivorImdb.foreach { n =>
      val kid = kaggleIdOf.getOrDefault(n, 0)
      if (kid > 0) { multiplicity(kid) += 1; joinHits += 1 }
    }

    // ---- ratings: skewed toward low movieIds, which are the matched
    // kaggle ids; ~1 in 6 movieIds falls beyond the kaggle id range
    val maxMovie = (kaggleImdb.length * 1.2).toInt.max(10)
    val cum = ratingWeights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    val matchedBy = new Array[Long](ratingValues.length)
    val seen = new java.util.BitSet(maxMovie + 1)
    val r = writer(new File(dir, ratingsFile))
    try {
      r.write("userId,movieId,rating,timestamp\n")
      val sb = new java.lang.StringBuilder(64)
      val users = (sizes.ratings / 90).max(1)
      for (_ <- 0 until sizes.ratings) {
        val uu = rnd.nextDouble()
        val movie = 1 + (maxMovie * uu * uu).toInt.min(maxMovie - 1)
        val x = rnd.nextDouble() * total
        var v = 0
        while (cum(v) < x) v += 1
        seen.set(movie)
        if (movie < multiplicity.length) matchedBy(v) += multiplicity(movie)
        sb.setLength(0)
        sb.append(1 + rnd.nextInt(users)).append(',').append(movie)
          .append(',').append(ratingValues(v)).append(',')
          .append(789652009L + rnd.nextInt(700000000)).append('\n')
        r.append(sb)
      }
    } finally r.close()

    val truth = EtlTruth(
      wikiRecords = sizes.wiki,
      f1Survivors = survivorImdb.length,
      kaggleRows = kaggleImdb.length,
      kaggleKept = adult.count(!_),
      joinHits = joinHits,
      ratings = sizes.ratings.toLong,
      ratingGroups = seen.cardinality().toLong,
      matchedByValue = matchedBy.toSeq,
      wikiBytes = new File(dir, wikiFile).length(),
      kaggleBytes = new File(dir, kaggleFile).length(),
      ratingsBytes = new File(dir, ratingsFile).length())
    val m = writer(new File(dir, manifestFile))
    try m.write(truth.json + "\n") finally m.close()
    truth
  }
}
