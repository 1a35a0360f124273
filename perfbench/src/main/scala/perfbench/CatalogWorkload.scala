package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Operator-catalog entries run the way `graft.Bench` runs them: a
  * fresh session per entry, the result forced with a `noop` write, the
  * shared cache purged after every entry (outside the timed interval).
  */
object CatalogWorkload {

  val entries: Seq[String] = Seq(
    "dd25_prefix_pairs") // prefix-filtered similarity join: gram shuffle

  /** The fixed tables the entries read (no seed varies them). */
  val tables: Seq[String] = Seq("documents")

  /** Copy the committed tables into a fresh input directory. */
  def stage(dataDir: File, into: File): Long = {
    into.mkdirs()
    tables.map { t =>
      val src = new File(dataDir, s"$t.parquet")
      val dst = new File(into, s"$t.parquet")
      Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
      dst.length()
    }.sum
  }

  /** A new session on the running context, configured as `graft.Bench`
    * configures its per-entry sessions, with the host's core count.
    */
  def freshSession(nproc: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session.builder(nproc).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def purge(spark: SparkSession): Unit = {
    try spark.sharedState.cacheManager.clearCache()
    catch { case _: IllegalStateException => () }
    System.gc()
  }

  private lazy val queries = SparkEntry.queries

  def build(spark: SparkSession, name: String, sfDir: String): DataFrame =
    queries(name)(spark, sfDir)

  /** Run one entry, result forced by a `noop` write. */
  def runOnce(spark: SparkSession, name: String, sfDir: String): Unit =
    build(spark, name, sfDir).write.format("noop").mode("overwrite").save()

  /** The DuckDB oracle SQL of the entries that have one. */
  def oracles: Map[String, String] =
    SparkEntry.oracleSql.view.filterKeys(entries.toSet).toMap
}
