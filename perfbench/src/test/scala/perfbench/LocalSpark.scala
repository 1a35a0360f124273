package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local session per suite; scratch files under target/test-work. */
trait LocalSpark extends BeforeAndAfterAll { self: Suite =>

  val work: File = {
    val d = new File("target/test-work", getClass.getSimpleName).getAbsoluteFile
    EtlWorkload.rmrf(d)
    d.mkdirs()
    d
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    try spark.stop()
    finally {
      EtlWorkload.rmrf(work)
      super.afterAll()
    }
  }

  /** The reference's wiki and Kaggle files at 1/100, its ratings at 1/1000. */
  val smallSizes: EtlSizes = EtlSizes(73, 454, 26024)
}
