package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source readers (SURVEY §2.1 S1-S3).
  *
  * Wiki JSON (S1, challenge.py:44-45): one top-level array of heterogeneous
  * objects whose fields are per-record polymorphic (string OR array-of-string
  * OR nested object — SURVEY §7.5 H1). Strategy: first pass infers the union
  * schema (the analogue of pandas' dict-key union at challenge.py:103), then
  * the file is re-read with every field forced to StringType — Spark then
  * yields the raw JSON text for arrays/objects ("["a","b"]"), which the
  * expression layer flattens with
  * [[graft.ops.Expressions.flattenListString]] exactly like the reference's
  * `' '.join(x) if type(x) == list else x` (challenge.py:117).
  *
  * The file is read as ONE record: the line-mode JSON source with a NUL line
  * separator, a byte that cannot occur raw in UTF-8 JSON text. Jackson then
  * parses an in-memory byte array, and the exact-string capture of each
  * array/object read as StringType slices that array. Spark's multiLine
  * reader parses a stream instead, and that capture does a positioned read
  * back into the file per captured value: one parse of the reference-shaped
  * file read ~33× its bytes. Here a pass reads the file once, so the
  * inference pass plus one scan read it twice. A file larger than one input
  * split (`spark.sql.files.maxPartitionBytes`) is still one record, parsed
  * by the first split; each later split scans from its start to the end of
  * the file for a separator that never comes.
  *
  * The reader is UTF-8 only, as the reference's `open()` + `json.load` is: a
  * UTF-16 file or a malformed one (truncated, not JSON) parses to a single
  * `_corrupt_record` column, and [[readWikiJson]] rejects it rather than let
  * F1 filter it silently to zero rows.
  */
object Extract {

  def readWikiJson(spark: SparkSession, path: String): DataFrame = {
    // pandas dict keys are case-sensitive and the wiki data carries both
    // "Release date" AND "Release Date" (the :89-90 rename chain depends on
    // it) — Spark's default case-insensitive resolution rejects that schema.
    spark.conf.set("spark.sql.caseSensitive", "true")
    def wholeFile = spark.read.option("lineSep", "\u0000")
    val inferred = wholeFile.json(path).schema
    val corrupt = spark.conf.get("spark.sql.columnNameOfCorruptRecord")
    if (inferred.fieldNames.contains(corrupt))
      throw new IllegalArgumentException(
        s"wiki input $path is not a UTF-8 JSON array of objects: Spark " +
          s"could not parse it (its inferred schema holds `$corrupt`)")
    val allString = StructType(
      inferred.fieldNames.map(StructField(_, StringType, nullable = true)))
    wholeFile.schema(allString).json(path)
  }

  /** CSV with whole-file schema inference — the Spark analogue of
    * `low_memory=False` (challenge.py:47: full-pass dtype inference).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", true)
      .option("inferSchema", true)
      // RFC-4180 doubled-quote escaping ("" inside quoted fields) — the
      // kaggle file embeds JSON-literal strings with quotes; pandas' C
      // parser handles this natively, Spark needs escape = quote char.
      .option("escape", "\"")
      .csv(path)
}
