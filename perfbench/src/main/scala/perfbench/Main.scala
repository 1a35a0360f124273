package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's SparkSession settings: the host's cores, explicitly. */
object Session {
  def builder(nproc: Int): SparkSession.Builder = SparkSession.builder()
    .appName("perfbench")
    .master(s"local[$nproc]")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // split inputs at 4 MB as graft.Bench does, so the scaled-down inputs
    // spread over the cores the way the full-size files would
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.ui.enabled", "false")
}

/** The workloads. ETL sizes are record counts of the generated inputs. */
/** Each workload warms up for `warmupSeconds` before its timed window: on
  * a 4-core host the ETL's warm runs stop speeding up after about 15 s, the
  * catalog's passes after about 25 s.
  */
sealed trait Spec { def name: String; def warmupSeconds: Double }
final case class EtlSpec(name: String, sizes: EtlSizes) extends Spec {
  val warmupSeconds = 16.0
}
case object CatalogSpec extends Spec {
  val name = "catalog_sf001"
  val warmupSeconds = 24.0
}

object Spec {
  val all: Seq[Spec] = Seq(
    // the reference's wiki and Kaggle files at 1/10 and its ratings at
    // 1/130, so the ratings stay the largest input
    EtlSpec("etl_ref", EtlSizes(731, 4545, 200000)),
    CatalogSpec)

  def apply(name: String): Spec = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name (have ${all.map(_.name).mkString(", ")})"))
}

/** One benchmark invocation: set up, run the workload in a closed loop with
  * one client for the requested time, check every output, and write the
  * metrics as JSON to `--out`.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE --spans FILE --launched-ms MS
  */
object Main {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final class Tally {
    var attempted = 0L
    var failed = 0L
    val messages = mutable.ArrayBuffer.empty[String]
    def record(what: String, failures: Seq[String]): Unit = {
      attempted += 1
      if (failures.nonEmpty) {
        failed += 1
        if (messages.size < 20) messages += s"$what: ${failures.mkString("; ")}"
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val spec = Spec(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = new File(a("work"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val jvmStart = a.get("launched-ms").map(l => (mainMs - l.toLong) / 1e3)
      .getOrElse(0.0)

    // ---- set-up, three times; the median is reported
    var spark: SparkSession = null
    var staged: Either[EtlTruth, Long] = null
    val setups = (0 until 3).map { _ =>
      if (spark != null) spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      EtlWorkload.rmrf(new File(work, "input"))
      val dir = new File(work, "input")
      val t0 = System.nanoTime()
      spark = Session.builder(nproc).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      staged = spec match {
        case e: EtlSpec => Left(EtlGen.generate(dir, e.sizes, seed))
        case CatalogSpec =>
          Right(CatalogWorkload.stage(new File(a("data")), dir))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val inputDir = new File(work, "input").getPath

    val tally = new Tally
    val tracer = new Tracer(spark)
    val listener = new LayerListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val setupEnd = (System.currentTimeMillis() - mainMs) / 1e3
    val (steal0, jiffies0) = Probe.hostJiffies()

    val result = spec match {
      case e: EtlSpec =>
        runEtl(spark, e, staged.swap.toOption.get, inputDir, work, seconds,
          traced, nproc, tracer, listener, tally)
      case CatalogSpec =>
        runCatalog(spark, inputDir, staged.toOption.get, work, seconds,
          traced, nproc, tracer, listener, tally)
    }
    val runEnd = (System.currentTimeMillis() - mainMs) / 1e3
    val (steal1, jiffies1) = Probe.hostJiffies()
    val stealFrac =
      if (jiffies1 > jiffies0) (steal1 - steal0).toDouble / (jiffies1 - jiffies0)
      else 0.0

    val setupS = jvmStart + median(setups)
    val metrics =
      if (traced) result.layers ++ Seq(
        "checks.failed_frac" -> tally.failed.toDouble / tally.attempted,
        "host.steal_frac" -> stealFrac)
      else result.endToEnd :+ ("setup_s" -> setupS)

    val conf = spark.sparkContext.getConf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) =>
        !k.contains("host") && !k.contains("port") && !k.endsWith(".id") }
    val detail = Json.obj(
      "workload" -> spec.name, "seed" -> seed, "trace" -> traced,
      "nproc" -> nproc, "host_steal_frac" -> stealFrac,
      "jvm_start_s" -> jvmStart, "setup_runs_s" -> setups,
      "main_s" -> Map("setup_end" -> setupEnd, "run_end" -> runEnd,
        "end" -> (System.currentTimeMillis() - mainMs) / 1e3),
      "samples" -> result.samples, "input" -> Json.Raw(result.inputJson),
      "spark_conf" -> conf.toMap)
    val out = Json.obj(
      "attempted" -> tally.attempted, "failed" -> tally.failed,
      "failures" -> tally.messages.toSeq,
      "metrics" -> metrics.toMap,
      "catalog_runs_per_entry" -> result.catalogRunsPerEntry,
      "detail" -> Json.Raw(detail))
    write(new File(a("out")), out + "\n")
    if (traced) write(new File(a("spans")),
      tracer.jsonLines.mkString("", "\n", "\n"))
    spark.stop()
  }

  private def write(f: File, s: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, UTF_8)
    try w.write(s) finally w.close()
  }

  /** Runs made at least, whatever `--seconds` says: in the warm-up, and
    * in the timed window (where a traced run pairs one traced and one
    * untraced run).
    */
  private val minWarmupRuns = 2
  private def minRuns(traced: Boolean): Int = if (traced) 1 else 4

  /** Calls `run(i)` for i = `from`, `from` + 1, ... until `min` calls were
    * made and `seconds` have passed; returns the next index.
    */
  private def loop(from: Int, min: Int, seconds: Double)(run: Int => Unit)
  : Int = {
    val t0 = System.nanoTime()
    var i = from
    while (i < from + min || (System.nanoTime() - t0) / 1e9 < seconds) {
      run(i)
      i += 1
    }
    i
  }

  /** Per-layer figures: each the median over the traced runs, plus the
    * tracing overhead against the untraced median `wall`.
    */
  private def layerMedians(runs: Seq[Map[String, Double]], wall: Double)
  : Seq[(String, Double)] =
    if (runs.isEmpty) Nil
    else {
      val m = runs.head.keys.toSeq.sorted.map(n => n -> median(runs.map(_(n))))
      m :+ ("trace.overhead_s" -> (m.toMap.apply("trace.wall_s") - wall))
    }

  final case class Result(
      endToEnd: Seq[(String, Double)],
      layers: Seq[(String, Double)],
      samples: Map[String, Any],
      inputJson: String,
      catalogRunsPerEntry: Int = 0)

  // ---- ETL ----------------------------------------------------------------

  private def runEtl(spark: SparkSession, e: EtlSpec, truth: EtlTruth,
      inputDir: String, work: File, seconds: Double, traced: Boolean,
      nproc: Int, tracer: Tracer, listener: LayerListener, tally: Tally)
  : Result = {
    val in = EtlWorkload.Inputs(inputDir)
    def target(i: Int): String = new File(work, s"out$i").getPath

    final case class Sample(wall: Double, cpu: Double, read: Long,
        written: Written)

    /** One run, checked and dropped; `body` does the timed work. */
    def iteration[T](i: Int)(body: String => T): Option[(Sample, T)] = {
      val t = target(i)
      val c0 = Probe.processCpuSeconds()
      val r0 = Probe.fsBytesRead()
      val w0 = System.nanoTime()
      val out = try Right(body(t)) catch { case x: Exception => Left(x) }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = Probe.processCpuSeconds() - c0
      val read = Probe.fsBytesRead() - r0
      val res = out match {
        case Left(x) =>
          tally.record(s"run $i", Seq(s"threw $x"))
          None
        case Right(v) =>
          val (failures, written) =
            try EtlWorkload.check(spark, t, truth)
            catch { case x: Exception =>
              (Seq(s"read-back threw $x"), Written(0, 0, 0)) }
          tally.record(s"run $i", failures)
          Some((Sample(wall, cpu, read, written), v))
      }
      EtlWorkload.rmrf(new File(t))
      System.gc()
      res
    }

    def untraced(i: Int) =
      iteration(i)(t => EtlWorkload.runOnce(spark, in, t)).map(_._1)

    val first = untraced(0)
    // warm-up: the JIT keeps compiling hot paths for the first few dozen
    // seconds of warm runs, and a median over runs that still speed up
    // depends on how many of them there were
    val warmup = mutable.ArrayBuffer.empty[Sample]
    val next = loop(1, minWarmupRuns, e.warmupSeconds)(
      untraced(_).foreach(warmup += _))
    val plain = mutable.ArrayBuffer.empty[Sample]
    val layered = mutable.ArrayBuffer.empty[(Sample, Map[String, Double])]
    // a traced run alternates with an untraced one: the difference of
    // their medians is the tracing overhead
    loop(next, minRuns(traced), seconds) { i =>
      if (traced)
        iteration(2 * i)(t =>
          EtlWorkload.runTraced(spark, tracer, 2 * i, in, t)).foreach {
          case (s, (root, b)) => layered += s -> etlLayers(spark, tracer,
            listener, root, b, s.written, truth, nproc)
        }
      untraced(if (traced) 2 * i + 1 else i).foreach(plain += _)
    }

    val wall = median(plain.map(_.wall).toSeq)
    val endToEnd = Seq(
      "wall_s" -> wall,
      "first_run_s" -> first.map(_.wall).getOrElse(Double.NaN),
      "rows_per_s" -> truth.inputRecords / wall,
      "cpu_s" -> median(plain.map(_.cpu).toSeq),
      "peak_rss_mb" -> Probe.peakRssMb(),
      "read_amp" -> median(plain.map(_.read.toDouble / truth.inputBytes).toSeq))
    Result(endToEnd, layerMedians(layered.map(_._2).toSeq, wall),
      Map("wall_s" -> plain.size, "first_run_s" -> first.size,
        "traced" -> layered.size, "walls_s" -> plain.map(_.wall).toSeq,
        "warmup_walls_s" -> warmup.map(_.wall).toSeq),
      truth.json)
  }

  private def etlLayers(spark: SparkSession, tracer: Tracer,
      listener: LayerListener, root: Span, b: EtlWorkload.Boundary,
      written: Written, truth: EtlTruth, nproc: Int): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val spans = tracer.all.filter(s => s.run == root.run &&
      s.parent.contains(root.id)).map(s => s.name -> s).toMap
    val layerNames = Seq("extract", "wikiclean", "merge", "ratings", "load")
    val generic = layerNames.flatMap { l =>
      val s = spans(l)
      val self = tracer.selfSeconds(s)
      val c = listener.get(spark, Tracer.group(root.run, l))
      Seq(
        s"$l.self_s" -> self,
        s"$l.cpu_s" -> c.cpuNs / 1e9,
        s"$l.core_util" -> (if (self > 0) c.runMs / 1e3 / (self * nproc) else 0.0),
        s"$l.jobs" -> c.jobs.toDouble,
        s"$l.tasks_failed" -> c.tasksFailed.toDouble,
        s"$l.shuffle_write_mb" -> c.shuffleWriteBytes / mb,
        s"$l.spill_mb" -> c.spillBytes / mb)
    }
    val loadSelf = tracer.selfSeconds(spans("load"))
    val bytesWritten = written.bytes.toDouble
    val broadcast = listener.get(spark, Tracer.group(root.run, "merge"))
      .broadcastBytes
    val layerSelf = layerNames.map(l => tracer.selfSeconds(spans(l))).sum
    (generic ++ Seq(
      "extract.bytes_read_mb" -> b.extractReadBytes / mb,
      "extract.ratings_scans" -> b.ratingsReadBytes.toDouble / truth.ratingsBytes,
      "extract.wiki_scans" -> b.wikiReadBytes.toDouble / truth.wikiBytes,
      "wikiclean.rows_in" -> b.wikiRows.toDouble,
      "wikiclean.rows_out" -> b.survivors.toDouble,
      "wikiclean.survivor_ratio" -> b.survivors.toDouble / b.wikiRows,
      "merge.rows_out" -> b.movies.toDouble,
      "merge.hit_ratio" -> b.movies.toDouble / b.survivors,
      "merge.broadcast_mb" -> broadcast / mb,
      "ratings.groups" -> b.groups.toDouble,
      "ratings.matched_ratio" -> b.matched.toDouble / truth.ratings,
      "load.rows_written" -> written.rows.toDouble,
      "load.bytes_written_mb" -> bytesWritten / mb,
      "load.files_written" -> written.files.toDouble,
      "load.rows_per_s" -> written.rows / loadSelf,
      "load.out_bytes_per_in_byte" -> bytesWritten / truth.inputBytes,
      "trace.wall_s" -> root.seconds,
      "trace.coverage" -> layerSelf / root.seconds)).toMap
  }

  // ---- catalog --------------------------------------------------------------

  private def runCatalog(spark0: SparkSession, sfDir: String,
      inputBytes: Long, work: File, seconds: Double, traced: Boolean,
      nproc: Int, tracer: Tracer, listener: LayerListener, tally: Tally)
  : Result = {
    val entries = CatalogWorkload.entries
    final case class Run(wall: Double, cpu: Double, read: Long)
    var lastSession = spark0
    val checkDir = new File(work, "check")

    /** One pass over the entries. The first pass writes each result for
      * the oracle compare; later passes force it with a `noop` write, and a
      * traced pass wraps each entry in a span.
      */
    def pass(p: Int, tracedPass: Boolean): (Seq[Option[Run]], Option[Span]) = {
      def one(name: String): Option[Run] = {
        val s = CatalogWorkload.freshSession(nproc)
        lastSession = s
        val c0 = Probe.processCpuSeconds()
        val r0 = Probe.fsBytesRead()
        val t0 = System.nanoTime()
        def body(): Unit =
          if (p == 0) CatalogWorkload.build(s, name, sfDir).write
            .mode("overwrite").parquet(new File(checkDir, name).getPath)
          else CatalogWorkload.runOnce(s, name, sfDir)
        val ok =
          try {
            if (tracedPass) tracer.span(p, s"catalog.$name")(body())
            else body()
            tally.record(s"$name pass $p", Nil)
            true
          } catch { case x: Exception =>
            tally.record(s"$name pass $p", Seq(s"threw $x"))
            false
          }
        val run = Run((System.nanoTime() - t0) / 1e9,
          Probe.processCpuSeconds() - c0, Probe.fsBytesRead() - r0)
        System.err.println(f"[perfbench] pass $p $name ${run.wall}%.3f s")
        CatalogWorkload.purge(s)
        if (ok) Some(run) else None
      }
      if (tracedPass) {
        val (runs, root) = tracer.span(p, "catalog")(entries.map(one))
        (runs, Some(root))
      } else (entries.map(one), None)
    }

    val (first, _) = pass(0, tracedPass = false)
    write(new File(checkDir, "oracle_sql.json"),
      Json.value(CatalogWorkload.oracles) + "\n")
    // warm-up, as in runEtl
    val warmup = mutable.ArrayBuffer.empty[Seq[Option[Run]]]
    val next = loop(1, minWarmupRuns, CatalogSpec.warmupSeconds)(
      warmup += pass(_, tracedPass = false)._1)
    val plain = mutable.ArrayBuffer.empty[Seq[Option[Run]]]
    val layered = mutable.ArrayBuffer.empty[Map[String, Double]]
    loop(next, minRuns(traced), seconds) { p =>
      if (traced) {
        val (_, root) = pass(p, tracedPass = true)
        layered += catalogLayers(lastSession, tracer, listener, root.get)
      }
      plain += pass(p, tracedPass = false)._1
    }

    // per entry, the median over passes; the pass figure is their sum
    def perEntry(runs: Seq[Seq[Option[Run]]], f: Run => Double): Double =
      entries.indices.map(i => median(runs.flatMap(_(i)).map(f))).sum
    val wall = perEntry(plain.toSeq, _.wall)
    val peakRss = Probe.peakRssMb()
    val inputRows = CatalogWorkload.tables.map(t =>
      lastSession.read.parquet(s"$sfDir/$t.parquet").count()).sum
    val endToEnd = Seq(
      "wall_s" -> wall,
      "first_run_s" -> first.flatten.map(_.wall).sum,
      "rows_per_s" -> inputRows / wall,
      "cpu_s" -> perEntry(plain.toSeq, _.cpu),
      "peak_rss_mb" -> peakRss,
      "read_amp" -> perEntry(plain.toSeq, _.read.toDouble) / inputBytes)
    Result(endToEnd, layerMedians(layered.toSeq, wall),
      Map("passes" -> plain.size, "traced" -> layered.size,
        "pass_walls_s" -> plain.map(_.flatten.map(_.wall).sum).toSeq,
        "warmup_walls_s" -> warmup.map(_.flatten.map(_.wall).sum).toSeq),
      Json.obj("entries" -> entries, "sf_dir" -> sfDir,
        "input_bytes" -> inputBytes,
        "input_rows" -> inputRows, "check_dir" -> checkDir.getPath),
      catalogRunsPerEntry = 1 + warmup.size + plain.size + layered.size)
  }

  private def catalogLayers(spark: SparkSession, tracer: Tracer,
      listener: LayerListener, root: Span): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val kids = tracer.all.filter(s => s.run == root.run &&
      s.parent.contains(root.id))
    kids.flatMap { s =>
      val c = listener.get(spark, Tracer.group(root.run, s.name))
      Seq(
        s"${s.name}.wall_s" -> s.seconds,
        s"${s.name}.cpu_s" -> c.cpuNs / 1e9,
        s"${s.name}.shuffle_write_mb" -> c.shuffleWriteBytes / mb,
        s"${s.name}.spill_mb" -> c.spillBytes / mb,
        s"${s.name}.jobs" -> c.jobs.toDouble)
    }.toMap ++ Map(
      "trace.wall_s" -> root.seconds,
      "trace.coverage" -> kids.map(_.seconds).sum / root.seconds)
  }
}
