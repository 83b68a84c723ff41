package graft

/** Perf gate: times every SparkEntry query at SPARK_GRAFT_SF_DIR and prints
  * ONE compact JSON line `{"metric":"total","value":…,"queries":{…},…}`.
  *
  * The line is deliberately kept under ~1.5 KB and printed AFTER
  * spark.stop(): round 1's line carried all 93 per-query timings at full
  * double precision (~4 KB) while Spark shutdown threads were still
  * writing to stderr — the driver captures merged/tailed output, and the
  * oversized interleaved line came back `parsed: null` (BENCH_r01.json).
  * Only the slowest queries are itemized; `value` sums every SUCCESSFUL
  * run (crashed queries' elapsed time is reported separately as
  * `failed_sec` so an early crash can't make the total look faster).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // an explicit first arg beats the env var (a thin-client `set
    // envVars` does not reach the forked runMain JVM; args always do)
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      graft.ingest.Scratch.warehouse.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, shuffle service, parquet footer caches,
    // streaming machinery) so the first timed query doesn't absorb
    // one-time JVM startup cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Catalog/metastore boot (embedded Derby) is one-time DEPLOYMENT
    // provisioning, measured at 2-13 s for the first catalog write in a
    // JVM; without this warm the alphabetically-first saveAsTable entry
    // (s2b) silently absorbs it into its query timing.
    spark.sql("CREATE TABLE IF NOT EXISTS graft_bench_warm_t(i INT) USING PARQUET")
    spark.sql("DROP TABLE IF EXISTS graft_bench_warm_t")
    // SQL DML machinery (MERGE/UPDATE/DELETE command planning, the
    // merge rule's codegen, the DSv1 table-provider resolution) is
    // one-time JVM provisioning exactly like the Derby boot above —
    // measured as the bulk of s33's 2.5 s best vs 5.9 s first-run
    // spread (r16 verdict #4). Warm it on a 3-row table so the
    // alphabetically-first SQL-DML entry doesn't absorb it; the graded
    // entries still run every real operation on real data.
    try {
      val V = graft.ingest.Versioned
      val p = graft.ingest.Scratch.dir("bench", "dmlwarm", sfDir).toString
      graft.ingest.Writers.deleteTree(p)
      V.commit(spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v"), p)
      spark.sql("DROP TABLE IF EXISTS graft_bench_warm_dml")
      spark.sql(s"CREATE TABLE graft_bench_warm_dml USING `graft-versioned` OPTIONS (path '$p')")
      try {
        spark.range(3, 5).selectExpr("id AS k", "CAST(id AS STRING) AS v")
          .createOrReplaceTempView("graft_bench_warm_src")
        spark.sql("INSERT INTO graft_bench_warm_dml SELECT * FROM graft_bench_warm_src")
        spark.sql("""MERGE INTO graft_bench_warm_dml t USING graft_bench_warm_src s
          ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
        spark.sql("UPDATE graft_bench_warm_dml SET v = 'u' WHERE k = 1")
        spark.sql("DELETE FROM graft_bench_warm_dml WHERE k = 2")
        spark.sql("REFRESH TABLE graft_bench_warm_dml")
        spark.sql("SELECT count(*) FROM graft_bench_warm_dml").collect()
      } finally {
        // drop BOTH registrations even on a mid-warm failure — a leaked
        // table/view over a scratch path would surface in every later
        // session-catalog listing an entry or spec performs
        spark.sql("DROP TABLE IF EXISTS graft_bench_warm_dml")
        spark.sql("DROP VIEW IF EXISTS graft_bench_warm_src")
      }
    } catch { case e: Throwable => System.err.println(s"[bench] dml warm failed: ${e.getMessage}") }
    locally {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val q = spark.readStream
        .schema(StructType(Seq(StructField("r_regionkey", IntegerType))))
        .option("pathGlobFilter", "region.parquet")
        .parquet(sfDir)
        .groupBy("r_regionkey").count()
        .writeStream.format("memory").queryName("graft_bench_warm")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.sql("DROP VIEW IF EXISTS graft_bench_warm")
    }
    // SPARK_GRAFT_ONLY=a,b,c (dev aid) restricts to the named queries —
    // resolved here so the warm/calibration steps can be gated on it too.
    val only = args.drop(1).find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(",").toSet)
      .orElse(sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet))
    // IVF index build is fit-once-offline infrastructure (a real deployment
    // constructs the index before serving queries); prewarm the cached
    // quantizer so l3d_ivf_ann times steady-state assignment+probe cost
    // (round-2 verdict #3), not one-time index construction. Skipped when
    // a SPARK_GRAFT_ONLY selection doesn't include l3d (a ~3 s fit the
    // selected queries would never use), and non-fatal: a warm/calibration
    // failure must not kill the run before the per-query loop, whose
    // whole point is isolating failures into `failed` per entry.
    if (only.forall(_.contains("l3d_ivf_ann")))
      try graft.similarity.SimilarityOps.warmQuantizer(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[bench] quantizer warm failed: ${e.getMessage}") }
    // Calibration probes (round-2 verdict #6): the host's throughput
    // drifts >2× between driver windows (BASELINE.md: 60.4 vs 71.3 s for
    // one commit, 132 s in the worst recorded window), so two fixed-work
    // probes are timed and emitted with every run — any window's total
    // can then be normalized against another's before concluding
    // "regression". cal_cpu is pure deterministic compute (no IO);
    // cal_scan is one full parquet scan of the biggest table (IO+decode).
    // Probes report -1 on failure (e.g. a missing table) rather than
    // aborting the run. They run in ONLY-filtered mode too (r10 verdict:
    // the probes are the one tool for adjudicating this host's window
    // drift, and a targeted outlier A/B is exactly when they're needed).
    def timed(work: => Unit): Double =
      try {
        val t0 = System.nanoTime(); work; (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => System.err.println(s"[bench] probe failed: ${e.getMessage}"); -1.0 }
    val calCpu = timed(spark.range(500000000L).selectExpr("sum(id * 3 + 7)").collect())
    val calScan = timed(spark.read.parquet(s"$sfDir/lineitem.parquet").selectExpr("count(*)").collect())
    var failed = List.empty[String]
    var failedSec = 0.0
    // SPARK_GRAFT_RUNS (default 2): each query executes N times and the
    // MIN is reported. BENCH_r04 proved single-sample timings pick up
    // 5-8× host-window spikes (w5 6.13 s driver-window vs <1.1 s same
    // commit same day — shared-VM noise, BASELINE.md): min-of-N reports
    // the machine's best honest execution of identical work, the
    // standard spike-robust protocol. Every run re-executes the full
    // query (no caching); a warm second run is systematically ~10-20%
    // faster (JIT/page cache), which is exactly the stable number two
    // windows CAN be compared on. =1 restores the r2-r4 single-shot
    // protocol. A query that crashes is NOT retried (a crash must not
    // masquerade as a recoverable flake) and its elapsed time goes to
    // failed_sec, never the headline total.
    val runsPerQuery = math.max(1, sys.env.get("SPARK_GRAFT_RUNS").flatMap(r => scala.util.Try(r.toInt).toOption).getOrElse(2))
    // Name-sorted: hash-map iteration order would shuffle which query pays
    // first-use costs (codegen, state-store init) between rounds, making
    // per-query timings incomparable across BENCH_r{N} files.
    val results: Seq[(String, Double, Double, Double)] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var crashed = false
        var i = 0
        while (i < runsPerQuery && !crashed) {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count(); times += (System.nanoTime() - t0) / 1e9 }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED (run ${i + 1}): ${e.getMessage}")
              failed ::= name
              failedSec += (System.nanoTime() - t0) / 1e9 + times.sum
              crashed = true
          }
          i += 1
        }
        // (name, best sample, worst sample, first sample — the min/max
        // spread is the spike signal; the FIRST sample is what a
        // single-shot protocol would have reported)
        if (crashed) None else Some((name, times.min, times.max, times.head))
      }
    // `value` sums SUCCESSFUL runs only: a query that crashes early would
    // otherwise make the headline total look faster. Failed time is still
    // reported, separately, as failed_sec.
    val total = results.map(_._2).sum
    // first-sample total = the r2-r4 single-shot protocol on this window,
    // emitted alongside so cross-round comparisons that predate min-of-N
    // stay directly comparable (r5 ADVICE)
    val totalFirst = results.map(_._4).sum
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale (de_DE, fr_FR) would render 62,700 — invalid
    // JSON, i.e. exactly the parsed-null failure this line exists to fix.
    def sec(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // slowest-16 itemized with BOTH samples (min graded, max shows the
    // window spread) — 16×2 entries keeps the line safely under 1.5 KB
    val slowest = results.sortBy(-_._2).take(16)
    val qs = slowest.map { case (k, v, _, _) => s""""$k":${sec(v)}""" }
      .mkString("{", ",", "}")
    val qs2 = slowest.map { case (k, _, w, _) => s""""$k":${sec(w)}""" }
      .mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // PER-ENTRY BUDGET (r8 verdict #7): registry s/query has crept three
    // rounds straight as lifecycle entries accumulated, so entries over
    // SPARK_GRAFT_BUDGET_SEC (default 3 s at sf0.1) are named loudly —
    // each must be justified in BASELINE.md or trimmed, never drift in
    // silently. stderr carries the full list with timings; the JSON line
    // carries the count plus up to 8 names (size-capped — the slowest-16
    // map above already itemizes their timings).
    val budgetSec = sys.env.get("SPARK_GRAFT_BUDGET_SEC")
      .flatMap(b => scala.util.Try(b.toDouble).toOption).getOrElse(3.0)
    val overBudget = results.filter(_._2 > budgetSec).sortBy(-_._2)
    overBudget.foreach { case (n, best, worst, _) =>
      System.err.println(f"[bench] OVER BUDGET ($budgetSec%.1f s): $n best=$best%.2f s worst=$worst%.2f s")
    }
    val obJson = overBudget.take(8).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":${sec(total)},"unit":"sec","value_first_run":${sec(totalFirst)},"n_queries":${results.size + failed.size},"runs_per_query":$runsPerQuery,"failed":$failedJson,"failed_sec":${sec(failedSec)},"over_budget_n":${overBudget.size},"over_budget":$obJson,"calibration":{"cpu_sec":${sec(calCpu)},"scan_sec":${sec(calScan)}},"queries":$qs,"queries_worst":$qs2,"sf":"$sfDir"}"""
    // Dev aid (guide §1 "measure first"): the driver-contract line above is
    // size-capped to the slowest 16, which hides where the OTHER ~200
    // entries' time goes. When SPARK_GRAFT_TIMINGS_OUT names a file, dump
    // every entry's (best, worst, first) there — opt-in only, so driver
    // runs (which don't set it) are byte-identical.
    sys.env.get("SPARK_GRAFT_TIMINGS_OUT").foreach { out =>
      try {
        val body = results.sortBy(-_._2).map { case (n, b, w, f) =>
          s""""$n":[${sec(b)},${sec(w)},${sec(f)}]"""
        }.mkString("{", ",", "}")
        java.nio.file.Files.write(java.nio.file.Paths.get(out),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable => System.err.println(s"[bench] timings dump failed: ${e.getMessage}") }
    }
    spark.stop()
    // Printed last, post-stop: no Spark thread can interleave with it.
    println(line)
    System.out.flush()
  }
}
