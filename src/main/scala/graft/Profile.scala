package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev profiling aid (guide §1): runs named entries under a job-level
  * listener and prints, per run, every Spark job's wall time and
  * description plus the wall-vs-jobs gap (driver-side time: planning,
  * log replay, file IO, catalog calls). The bench's per-entry seconds say
  * WHICH entry is slow; this says WHERE inside it the time goes.
  *
  * Usage: runMain graft.Profile <sfDir> <entry[,entry...]> [runs]
  */
object Profile {
  private final case class Job(id: Int, desc: String, start: Long, var end: Long = -1L)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("a1_pricing_summary"))
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      graft.ingest.Scratch.warehouse.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    spark.sql("CREATE TABLE IF NOT EXISTS graft_prof_warm_t(i INT) USING PARQUET")
    spark.sql("DROP TABLE IF EXISTS graft_prof_warm_t")

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        val j = Job(e.jobId, desc, System.nanoTime())
        open.put(e.jobId, j); jobs.add(j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = open.remove(e.jobId)
        if (j != null) j.end = System.nanoTime()
      }
    })

    for (name <- names; r <- 1 to runs) {
      jobs.clear(); open.clear()
      val fn = SparkEntry.queries(name)
      // sample the main thread's stack every 10 ms (guide §7.3 driver
      // thread dumps, automated): the histogram of leaf-ish frames
      // attributes the wall-vs-jobs gap to planning / catalog / file IO
      val mainThread = Thread.currentThread()
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = mainThread.getStackTrace
          // first frame inside graft or spark below the profiler itself
          val frame = st.find { e =>
            val c = e.getClassName
            (c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.graft")) && !c.contains("Profile")
          }.orElse(st.headOption)
          frame.foreach(f => samples.add(f.toString))
          val top = st.take(18).map(_.toString).mkString(" <- ")
          samples.add("STACK:" + top)
          Thread.sleep(10)
        }
      })
      sampler.setDaemon(true); sampler.start()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      sampling = false
      // listener events are posted asynchronously; give the bus a beat
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.filter(_.end > 0)
      val jobSum = js.map(j => (j.end - j.start) / 1e9).sum
      println(f"%n=== $name run $r: wall $wall%.3f s, ${js.size} jobs summing $jobSum%.3f s, driver-gap ${wall - jobSum}%.3f s ===")
      js.sortBy(j => -(j.end - j.start)).take(15).foreach { j =>
        println(f"  ${(j.end - j.start) / 1e9}%7.3f s  job ${j.id}%4d  ${j.desc.take(110)}")
      }
      import scala.jdk.CollectionConverters._
      val ss = samples.asScala.toSeq
      val graftFrames = ss.filterNot(_.startsWith("STACK:"))
      println(s"  -- top graft/spark frames (${graftFrames.size} samples x 10 ms) --")
      graftFrames.groupBy(identity).toSeq.sortBy(-_._2.size).take(20).foreach {
        case (f, n) => println(f"  ${n.size * 0.01}%6.2f s  $f")
      }
      println("  -- top full stacks --")
      ss.filter(_.startsWith("STACK:")).groupBy(identity).toSeq.sortBy(-_._2.size).take(6).foreach {
        case (f, n) => println(f"  ${n.size * 0.01}%6.2f s  ${f.drop(6).take(800)}")
      }
    }
    spark.stop()
  }
}
