package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.core.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}

object Analytics {

  /** Corpus scale: 7,500 orders and about 30,000 lineitems. */
  val Sf = 0.005

  /** Passes over the subset per step. */
  val Passes = 2

  /** Entries left out of the workload, with the reason. Each one reaches a
    * process-lifetime cache or gate (`Prefix.once`, `Prefix.cloneTo`,
    * `Once.build`, `Once.gate`), so a repeated call would time a cache hit
    * instead of the work. The `s*` and `g*` families are outside the
    * workload's families altogether. */
  val Excluded: Seq[(String, String)] = Seq(
    "a4_approx_distinct" -> "Once.gate: the accuracy gate runs once per corpus per process",
    "a6_approx_percentiles" -> "Once.gate: the accuracy gate runs once per corpus per process",
    "l3d_ivf_ann" -> "Once.build: the IVF quantizer is fit once per process",
    "l3f_pq_ann" -> "Once.build: the PQ codebook and index are built once per process",
    "stream_t11_cdf_consumer" -> "Once.build: the source table (t11SrcCache) is built once per process",
    "stream_t15_cdf_source" -> "Once.build: the producer prefix (t15PrefixCache) is built once per process",
    "stream_t17_versioned_late_drop" -> "Prefix.cloneTo: the bootstrapped table is built once per process",
    "stream_t18_delta_tail" -> "Prefix.cloneTo: the bootstrapped table is built once per process",
    "stream_t19_iceberg_tail" -> "Prefix.once: the bootstrapped table is built once per process",
  )

  /** The fixed subset a pass runs, one entry per family: a pass over
    * every eligible entry takes about a minute at this scale, far longer
    * than one run may last. */
  val Subset: Seq[String] = Seq(
    "a1_pricing_summary", "j2_broadcast_join", "w1_ranking", "sub1_scalar_subquery",
    "sql2_pipe_syntax", "f1_string_family", "p1_projection", "r1_pivot", "u3_distinct",
    "o1_sort_multi", "t1_tumbling_window", "l1_dedup_exact", "l2h_segment_dedup",
    "l3_cosine_topk", "l4h_boilerplate", "l5_multimodal", "stream_t6_stateful",
  )

  /** The entry's family: its letter prefix (`l` families keep their digit). */
  def family(name: String): String =
    if (name.startsWith("stream_")) "stream"
    else {
      val letters = name.takeWhile(_.isLetter)
      if (letters == "l") name.take(2) else letters
    }
}

/** Read-only analytics: each pass runs the subset's entries in a seeded
  * order, each executed over its whole plan into the `noop` sink. Timing
  * with `.count()` would let Catalyst prune unused projections and drop
  * sorts under the aggregate, so it would under-count the entry's work. */
final class Analytics(spark: SparkSession, client: Client, seed: Long, work: Path) extends Workload {
  import Analytics._

  private val defs: Seq[QueryDef] = {
    val all = graft.SparkEntry.allDefs.map(d => d.name -> d).toMap
    val missing = Subset.filterNot(all.contains)
    require(missing.isEmpty, s"analytics entries not in the registry: ${missing.mkString(", ")}")
    require(Subset.forall(n => !Excluded.exists(_._1 == n)), "an excluded entry is in the subset")
    Subset.map(all)
  }
  private val rnd = new scala.util.Random(seed)
  private var corpus: String = _
  private val perEntry = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def setup(dir: Path): Unit = {
    val c = dir.resolve("corpus")
    Gen.corpus(spark, seed, Sf, c)
    corpus = c.toString
  }

  def scanProbe(): DataFrame = spark.read.parquet(s"$corpus/lineitem.parquet")

  /** One untimed pass that lets codegen and JIT settle and keeps each
    * entry's result for the checks. */
  def warm(): Unit = defs.foreach { d =>
    client.op(s"warm.${d.name}") {
      d.fn(spark, corpus).write.mode("overwrite").parquet(work.resolve("results").resolve(d.name).toString)
    }
  }

  /** Two passes over the subset, each in its own seeded order. One pass
    * of about ten seconds left the run-to-run spread at a fifth of the
    * value on a shared 4-core host; two passes average over more of the
    * host's noise. */
  def step(): Unit = Seq.fill(Passes)(rnd.shuffle(defs)).flatten.foreach { d =>
    val t0 = System.nanoTime()
    val ok = client.op(s"ops.${family(d.name)}") {
      d.fn(spark, corpus).write.format("noop").mode("overwrite").save()
    }.isDefined
    if (ok) perEntry.getOrElseUpdate(d.name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
  }

  /** Each oracled result is compared by run.py with DuckDB running the
    * entry's oracle SQL over the same tables; here every entry must have
    * produced its result in the warm-up pass. */
  def check(): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    defs.foreach { d =>
      if (!java.nio.file.Files.isDirectory(work.resolve("results").resolve(d.name)))
        client.fail(s"${d.name}: no result")
    }
    val json = defs.flatMap(d => oracles.get(d.name).map(d.name -> _)).map { case (n, sql) =>
      Json.str(n) + ":" + Json.str(sql)
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(work.resolve("oracle_sql.json"), json.getBytes("UTF-8"))
    java.nio.file.Files.write(work.resolve("corpus_dir.txt"), corpus.getBytes("UTF-8"))
  }

  def details(elapsedS: Double): Seq[(String, Double, String)] = {
    val med = perEntry.map { case (n, ts) => n -> Stats.median(ts.toSeq) }
    val all = client.ops.filter(_.ok).map(_.ms).toSeq
    val byFamily = med.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
    Seq(
      ("pass_s", med.values.sum / 1000.0, "s"),
      ("query_p50_ms", if (all.nonEmpty) Stats.median(all) else Double.NaN, "ms"),
      ("query_p90_ms", Stats.tail(all, 90).getOrElse(Double.NaN), "ms"),
      ("queries", all.size.toDouble, "count"),
    ) ++ byFamily.map { case (f, m) => (s"ops.${f}_s", m.values.sum / 1000.0, "s") }
  }
}
