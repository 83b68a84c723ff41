package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** Staged-write conf isolation (r17 verdict #1).
  *
  * The Delta/Iceberg staging writers need parquet ENCODING conf
  * (INT64-micros timestamps, field-id writes) that the shared
  * Verify/Bench session must never see: r17 toggled
  * `spark.sql.parquet.outputTimestampType` set/restore-style on the
  * shared session and the toggle escaped into an unrelated entry's
  * correctness dump (f2's `month_start` flipped TIMESTAMP →
  * TIMESTAMPTZ on disk). set/finally-restore is also not safe under
  * concurrent writes in one session (r17 ADVICE): one writer's restore
  * can land while another's staged write is still planning.
  *
  * [[isolated]] instead rebinds the frame to a FRESH
  * `cloneSession()` — the clone inherits the parent's conf as of this
  * call (so legitimately scoped writer conf like s65b's per-era
  * shredding flags still reaches the write) and takes the staging
  * overrides privately; the parent session's conf is never written.
  * A clone shares the SparkContext and all executor state, but it is
  * NOT driver-only: at Spark's default
  * `spark.sql.artifact.isolation.enabled=true` each clone runs its
  * tasks under its own class loader, and the codegen cache is keyed
  * by class loader, so every staged write recompiles its task-side
  * generated classes (1–7 classes per upsert or delete call, measured
  * on 200-row tables). ROADMAP direction 10 owns the fix.
  *
  * [[withWriterConf]] is the caller-side scoping companion: entries
  * that need a write-encoding key for ONE producer write (s65b's
  * variant-shredding eras) stack it on a thread-local that only the
  * staging clone ever reads — grep-provably no query path mutates a
  * write-encoding key on the shared session.
  */
object StagedWrite {
  private val scoped = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** Scope extra writer conf over every staged write in `body` (this
    * thread only) without touching any session conf. Inner scopes win
    * on key collision. */
  def withWriterConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = scoped.get()
    scoped.set(prev ++ kv)
    try body finally scoped.set(prev)
  }

  /** The writer conf value a staged write on this thread sees: the
    * [[withWriterConf]] scope first, then the session. [[isolated]]'s
    * clone resolves every key the same way, so a protocol decision
    * taken through this lookup always matches the bytes the clone
    * writes. */
  def conf(spark: SparkSession, key: String): Option[String] =
    scoped.get().get(key).orElse(spark.conf.getOption(key))

  /** `df` rebound to a fresh clone of its session carrying
    * `overrides` (plus any [[withWriterConf]] scope, which wins):
    * write-side conf for exactly one staged write, invisible to the
    * shared session. */
  def isolated(df: DataFrame, overrides: Map[String, String]): DataFrame = {
    val parent = df.sparkSession.asInstanceOf[ClassicSession]
    val clone = parent.cloneSession()
    (overrides ++ scoped.get()).foreach { case (k, v) => clone.conf.set(k, v) }
    Dataset.ofRows(clone, df.queryExecution.analyzed)
  }
}
