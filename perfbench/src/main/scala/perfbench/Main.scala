package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call the workload's client made into the library. */
final case class Op(kind: String, ms: Double, ok: Boolean)

/** The closed-loop client: one thread, the next call only after the
  * previous one returned. Times every call from outside the library and
  * wraps it in a span when tracing. */
final class Client(val tracer: Tracer) {
  val ops = ArrayBuffer.empty[Op]
  val errors = ArrayBuffer.empty[String]
  private var timing = false

  /** Calls made while timing count as operations; calls made in set-up,
    * warm-up or checks are traced but not counted. */
  def timed[T](on: Boolean)(body: => T): T = {
    val was = timing
    timing = on
    try body finally timing = was
  }

  /** Run one call; a failure is recorded and returns None. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(kind)(body))
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          errors += s"$kind: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    if (timing) ops += Op(kind, (System.nanoTime() - t0) / 1e6, r.isDefined)
    r
  }

  /** Record a correctness failure found outside the timed region. */
  def fail(what: String): Unit = errors += what
}

/** A benchmark workload. `setup` is run several times and timed; the
  * last set-up's state is the one the timed phase runs on. */
trait Workload {
  /** Build inputs and state from scratch under `dir`. */
  def setup(dir: Path): Unit
  /** Untimed calls that let JIT, codegen and caches settle. */
  def warm(): Unit
  /** One step of the closed loop: one or more client calls. */
  def step(): Unit
  /** Check every output; failures go to the client. */
  def check(): Unit
  /** Workload-specific named metrics (name -> (value, unit)). */
  def details(elapsedS: Double): Seq[(String, Double, String)]
  /** A scan of the largest input the set-up wrote, for the scan probe. */
  def scanProbe(): DataFrame
}

/** Several workloads interleaved step by step in one closed loop. */
final class Together(parts: Seq[Workload]) extends Workload {
  def setup(dir: Path): Unit = parts.zipWithIndex.foreach { case (w, i) => w.setup(dir.resolve(s"part$i")) }
  def warm(): Unit = parts.foreach(_.warm())
  def step(): Unit = parts.foreach(_.step())
  def check(): Unit = parts.foreach(_.check())
  def details(elapsedS: Double): Seq[(String, Double, String)] = parts.flatMap(_.details(elapsedS))
  def scanProbe(): DataFrame = parts.head.scanProbe()
}

object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** The session graft.Bench builds, with scratch space under the work dir. */
  def session(cpus: Int): SparkSession = {
    val manyCores = cpus >= 16
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", (!manyCores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.parquet.fieldId.write.enabled", "true")
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", "org.apache.spark.sql.graft.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", graft.ingest.Scratch.warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapUsedMb(): Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workloadName = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val setups = arg(args, "setups").toInt
    require(setups >= 2, "--setups must be at least 2: the first set-up is not timed")
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus)
    val tracer = new Tracer(trace)
    tracer.install(spark)
    val client = new Client(tracer)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val workload: Workload = workloadName match {
      case "analytics" => new Analytics(spark, client, seed, work)
      case "commit_churn" => new Churn(spark, client, seed)
      case "bulk_ingest" => new Bulk(spark, client, seed)
      case "writes" => new Together(Seq(new Churn(spark, client, seed), new Bulk(spark, client, seed)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, run several times; each one starts from nothing. The first
    // pays the JVM's first-use cost (class loading, JIT, codegen), which
    // swings with the host; setup_s is the median of the later ones
    val setupTimes = (1 to setups).map { i =>
      val dir = work.resolve(s"setup$i")
      val s0 = System.nanoTime()
      workload.setup(dir)
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    workload.warm()
    val warmS = (System.nanoTime() - w0) / 1e9

    // calibration probes, as graft.Bench times them
    def probe(body: => Unit): Double = { val p0 = System.nanoTime(); body; (System.nanoTime() - p0) / 1e9 }
    val calCpu = probe(spark.range(500000000L).selectExpr("sum(id * 3 + 7)").collect())
    val calScan = probe(workload.scanProbe().selectExpr("count(*)").collect())

    tracer.clearEvents()
    val gc0 = gcSeconds()
    // traced runs sample the heap every 50 ms for its peak
    @volatile var heapPeak = heapUsedMb()
    @volatile var sampling = trace
    val sampler = new Thread(() => while (sampling) { heapPeak = math.max(heapPeak, heapUsedMb()); Thread.sleep(50) })
    sampler.setDaemon(true)
    if (trace) sampler.start()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val stepS = ArrayBuffer.empty[Double]
    client.timed(on = true) {
      while (System.nanoTime() < deadline) {
        val s0 = System.nanoTime()
        workload.step()
        stepS += (System.nanoTime() - s0) / 1e9
      }
    }
    val elapsed = (System.nanoTime() - start) / 1e9
    sampling = false
    if (trace) sampler.join()
    val gcS = gcSeconds() - gc0
    tracer.drain(spark)
    // Spark releases state asynchronously (listener queues, the context
    // cleaner), so one full GC right after the last call reads a heap
    // that is still shrinking: take the least of a few GCs apart
    val retainedMb = (1 to 4).map { _ => System.gc(); Thread.sleep(250); heapUsedMb() }.min
    val perLayer = if (trace) Layers.perLayer(tracer, client.ops.toSeq, elapsed, gcS, heapPeak) else Nil

    client.timed(on = false)(workload.check())

    val ops = client.ops.toSeq
    val lat = ops.filter(_.ok).map(_.ms)
    val attempted = math.max(1, ops.size)
    val failed = ops.count(!_.ok)
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupTimes.drop(1)), "s"),
      ("op_geomean_ms", if (lat.nonEmpty) Stats.geomean(lat) else Double.NaN, "ms"),
      ("ops_per_s", lat.size / elapsed, "1/s"),
      ("retained_heap_mb", retainedMb, "MB"),
    )
    val detail = workload.details(elapsed)

    val sha = sys.env.getOrElse("PERFBENCH_SOURCE_ID", "unknown")
    val context = Seq(
      s""""workload":${Json.str(workloadName)}""", s""""seed":$seed""", s""""source":${Json.str(sha)}""",
      s""""cpus_effective":${spark.sparkContext.defaultParallelism}""",
      s""""cal_cpu":${Json.num(calCpu)}""", s""""cal_scan":${Json.num(calScan)}""",
      s""""session_s":${Json.num(sessionS)}""", s""""setup_runs_s":${setupTimes.map(Json.num).mkString("[", ",", "]")}""",
      s""""warm_s":${Json.num(warmS)}""", s""""timed_s":${Json.num(elapsed)}""", s""""ops":${ops.size}""",
      s""""steps_s":${stepS.map(Json.num).mkString("[", ",", "]")}""",
      s""""op_p50_ms":${Json.num(if (lat.nonEmpty) Stats.median(lat) else Double.NaN)}""",
      s""""op_p90_ms":${Json.num(Stats.tail(lat, 90).getOrElse(Double.NaN))}""",
      s""""errors":${client.errors.take(20).map(Json.str).mkString("[", ",", "]")}""",
    ).mkString("{", ",", "}")
    val report = Seq(
      s""""context":$context""",
      s""""end_to_end":${Json.metrics(endToEnd)}""",
      s""""workload_metrics":${Json.metrics(detail)}""",
      s""""per_layer":${Json.metrics(perLayer)}""",
      s""""n_errors":${client.errors.size}""",
      s""""attempted":$attempted""", s""""failed":$failed""",
    ).mkString("{", ",", "}")
    Files.write(work.resolve("report.json"), report.getBytes("UTF-8"))
    spark.stop()
  }
}
