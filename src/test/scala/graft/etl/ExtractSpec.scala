package graft.etl

import java.nio.charset.StandardCharsets.{UTF_16, UTF_8}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** `Extract.readWikiJson` reads the wiki file as one whole-file record. It
  * must yield exactly what Spark's multiLine JSON reader yields (kept here
  * only as the reference), read the file once per pass, and reject input
  * that is not a UTF-8 JSON array instead of returning a corrupt-record
  * frame.
  */
class ExtractSpec extends SparkSpec {

  private lazy val fixtureText =
    new String(Files.readAllBytes(Paths.get(fixture("wikipedia.movies.json"))),
      UTF_8)

  private def tempFile(bytes: Array[Byte]): Path = {
    val dir = Files.createTempDirectory("graft_extract")
    Files.write(dir.resolve("wikipedia.movies.json"), bytes)
  }

  private def tempFile(text: String): Path = tempFile(text.getBytes(UTF_8))

  /** The stream-parsing reader `readWikiJson` replaced: inference, then an
    * all-StringType pass, both multiLine.
    */
  private def multiLineReference(path: String): DataFrame = {
    val inferred = spark.read.option("multiLine", true).json(path).schema
    val allString = StructType(
      inferred.fieldNames.map(StructField(_, StringType, nullable = true)))
    spark.read.option("multiLine", true).schema(allString).json(path)
  }

  /** Writes `text`, then checks that both readers return the same rows and
    * that the first array value, the first record's `Starring`, is the
    * file's raw text of that array, line breaks and spaces included.
    */
  private def assertParity(text: String): Unit = {
    val path = tempFile(text).toString
    val got = Extract.readWikiJson(spark, path) // sets caseSensitive first
    val want = multiLineReference(path)
    assert(got.schema == want.schema)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.size == 55)
    assert(g == w)
    val from = text.indexOf("[", text.indexOf("\"Starring\""))
    assert(g.head.getAs[String]("Starring") ==
      text.substring(from, text.indexOf("]", from) + 1))
  }

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val variants: Seq[(String, String => String)] = Seq(
    "the fixture" -> identity,
    "CRLF line endings" -> (_.replace("\n", "\r\n")),
    "a UTF-8 BOM" -> ("\uFEFF" + _),
    "non-ASCII text" -> (_
      .replace("\"Cid C\"", "\"Cid C 映画 🎬\", \"Ünïcödé – ‘quoted’\"")
      .replace("\"Language\": \"English\"", "\"Language\": \"Español\"")))

  for ((what, edit) <- variants)
    test(s"readWikiJson equals the multiLine reader on $what") {
      assertParity(edit(fixtureText))
    }

  test("readWikiJson equals the multiLine reader when splits are smaller " +
      "than the file") {
    withConf("spark.sql.files.maxPartitionBytes", "4096") {
      assert(fixtureText.getBytes(UTF_8).length > 4 * 4096)
      assertParity(fixtureText)
    }
  }

  test("one readWikiJson plus one collect reads the file at most twice") {
    val path = tempFile(fixtureText).toString
    val size = Files.size(Paths.get(path))
    val before = fsBytesRead()
    Extract.readWikiJson(spark, path).collect()
    val read = fsBytesRead() - before
    assert(read > 0)
    assert(read <= 2 * size, s"read $read bytes of a $size-byte file")
  }

  test("readWikiJson rejects a UTF-16 or truncated file, naming the path") {
    val utf16 = fixtureText.getBytes(UTF_16)
    val truncated = fixtureText.take(fixtureText.length / 2).getBytes(UTF_8)
    for (bytes <- Seq(utf16, truncated)) {
      val path = tempFile(bytes).toString
      val e = intercept[IllegalArgumentException](
        Extract.readWikiJson(spark, path))
      assert(e.getMessage.contains(path))
      assert(e.getMessage.contains("UTF-8 JSON array"))
    }
  }
}
