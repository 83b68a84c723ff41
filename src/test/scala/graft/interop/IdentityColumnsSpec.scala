package graft.interop

import graft.SparkFixture
import graft.ingest.{LocalExclusiveLock, LockProvider, Versioned, Writers}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.JobCount
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** IDENTITY columns (r12 verdict "missing #2"): Delta's
  * `identityColumns` writer feature — GENERATED {ALWAYS | BY DEFAULT}
  * AS IDENTITY with a per-column high watermark in the metaData
  * action, ratcheted by every generating commit and RE-STAMPED on the
  * OCC rebase path (a rival that advanced the watermark regenerates
  * the staged ids) — plus the graft-native mirror and the SQL CREATE
  * TABLE surface through GraftCatalog. Iceberg's table spec has no
  * identity concept; the catalog refuses it loudly. */
class IdentityColumnsSpec extends AnyFunSuite with SparkFixture {

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p)
    p.toString
  }

  import scala.concurrent.{Await, Future}
  import scala.concurrent.duration._
  import scala.concurrent.ExecutionContext.Implicits.global

  test("Delta: ALWAYS generates contiguous deterministic ids; explicit insert refuses") {
    import spark.implicits._
    val path = freshDir("id_delta")
    // creation flow: empty shape first, then the declaration
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), path)
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), path) // still empty: redeclarable
    DeltaLake.declareIdentity(spark, path, "id",
      DeltaLake.IdentitySpec(start = 10L, step = 5L))
    val snap0 = DeltaLake.snapshot(spark, path)
    assert(snap0.protocol.writerFeatures.contains("identityColumns"),
      "the declaration must ratchet the identityColumns writer feature")
    // ordered insert -> ids are start, start+step, ... in sort order
    DeltaLake.write(Seq(("c", 3L), ("a", 1L), ("b", 2L)).toDF("v", "k")
      .orderBy("k").select(col("v")), path, mode = SaveMode.Append)
    val got = DeltaLake.read(spark, path).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq((10L, "a"), (15L, "b"), (20L, "c")), got.toSeq.toString)
    assert(DeltaLake.identityColumns(spark, path)("id")._2.contains(20L),
      "the commit must ratchet the high watermark to the last generated value")
    // the next append resumes past the watermark
    DeltaLake.write(Seq("d").toDF("v"), path, mode = SaveMode.Append)
    assert(DeltaLake.read(spark, path).filter(col("v") === "d")
      .select("id").as[Long].head() == 25L)
    // GENERATED ALWAYS refuses explicit values
    val e = intercept[IllegalArgumentException](
      DeltaLake.write(Seq((99L, "x")).toDF("id", "v"), path, mode = SaveMode.Append))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // overwrite keeps the watermark (truncate does not reset identity)
    DeltaLake.write(Seq("z").toDF("v"), path, mode = SaveMode.Overwrite)
    assert(DeltaLake.read(spark, path).select("id").as[Long].head() == 30L,
      "an overwrite must keep generating past the previous watermark")
  }

  test("Delta: BY DEFAULT passes explicit values and ratchets the watermark past them") {
    import spark.implicits._
    val path = freshDir("id_delta_bd")
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), path)
    DeltaLake.declareIdentity(spark, path, "id",
      DeltaLake.IdentitySpec(start = 1L, step = 1L, allowExplicitInsert = true))
    DeltaLake.write(Seq((100L, "x"), (42L, "y")).toDF("id", "v"), path,
      mode = SaveMode.Append)
    assert(DeltaLake.identityColumns(spark, path)("id")._2.contains(100L),
      "explicit BY-DEFAULT values must ratchet the watermark (from the staged stats)")
    // generated values resume PAST the explicit max — no collision
    DeltaLake.write(Seq("g1", "g2").toDF("v"), path, mode = SaveMode.Append)
    val ids = DeltaLake.read(spark, path).select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(42L, 100L, 101L, 102L), ids.toSeq.toString)
    // syncIdentity is a no-op when the watermark already covers the data
    val vBefore = DeltaLake.snapshot(spark, path).version
    assert(DeltaLake.syncIdentity(spark, path, "id") == vBefore)
  }

  test("Delta: contended generating appends rebase with RE-STAMPED ids — no duplicates") {
    import spark.implicits._
    val path = freshDir("id_delta_conc")
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), path)
    DeltaLake.declareIdentity(spark, path, "id")
    val before = CommitIntrospect.deltaRebases.get()
    val results = Await.result(Future.sequence((1 to 4).map { i =>
      Future(
        try Right(DeltaLake.write(
          Seq(s"w${i}a", s"w${i}b").toDF("v"), path, mode = SaveMode.Append))
        catch { case e: Exception => Left(e.getMessage) })
    }), 180.seconds)
    assert(results.forall(_.isRight), s"a contending identity append failed: $results")
    assert(CommitIntrospect.deltaRebases.get() > before,
      "at least one append must have lost the race and rebased")
    val ids = DeltaLake.read(spark, path).select("id").as[Long].collect().sorted
    assert(ids.length == 8 && ids.distinct.length == 8,
      s"contended generation produced duplicate ids: ${ids.toSeq}")
    assert(ids.toSeq == (1L to 8L),
      s"contiguous re-stamped generation must cover 1..8, got ${ids.toSeq}")
    assert(DeltaLake.identityColumns(spark, path)("id")._2.contains(8L))
  }

  test("compaction racing a generating append commutes with the watermark ratchet") {
    import spark.implicits._
    val path = freshDir("id_delta_compact_race")
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), path)
    DeltaLake.declareIdentity(spark, path, "id")
    DeltaLake.write(Seq("seed1", "seed2").toDF("v").repartition(2), path,
      mode = SaveMode.Append)
    // a generating append emits a watermark-ratchet metaData action; a
    // dataChange=false compaction that loses the commit race to it must
    // REBASE (the rewrite re-emits no metaData, so the rival's stays
    // current) — before r13 the rival metaData refused the rebase.
    // The race is real (futures), so contention is probabilistic; the
    // assertion is that NO round ever surfaces a refusal and the table
    // stays consistent.
    var n = 2L
    (1 to 5).foreach { i =>
      val compacting = Future(
        try Right(DeltaLake.compact(spark, path, targetBytes = 1L << 20))
        catch { case e: Exception => Left(e.getMessage) })
      DeltaLake.write(Seq(s"w${i}a", s"w${i}b").toDF("v").repartition(2), path,
        mode = SaveMode.Append)
      n += 2
      val res = Await.result(compacting, 120.seconds)
      assert(res.isRight,
        s"compaction must commute with the identity watermark ratchet: $res")
    }
    val ids = DeltaLake.read(spark, path).select("id").as[Long].collect().sorted
    assert(ids.length == n && ids.distinct.length == n.toInt, ids.toSeq.toString)
    assert(DeltaLake.identityColumns(spark, path)("id")._2.contains(n))
  }

  test("Delta: declaration refusals — non-empty table, non-BIGINT, generated overlap") {
    import spark.implicits._
    val path = freshDir("id_delta_ref")
    DeltaLake.write(Seq((1L, "a")).toDF("id", "v"), path)
    val e1 = intercept[IllegalArgumentException](
      DeltaLake.declareIdentity(spark, path, "id"))
    assert(e1.getMessage.contains("already holds data"), e1.getMessage)
    val path2 = freshDir("id_delta_ref2")
    DeltaLake.write(Seq.empty[(Int, String)].toDF("id", "v"), path2)
    val e2 = intercept[IllegalArgumentException](
      DeltaLake.declareIdentity(spark, path2, "id"))
    assert(e2.getMessage.contains("BIGINT"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      DeltaLake.syncIdentity(spark, path2, "v"))
    assert(e3.getMessage.contains("not an identity column"), e3.getMessage)
  }

  test("graft-native: generation, ALWAYS refusal, and contended appends stay unique") {
    import spark.implicits._
    val path = freshDir("id_graft")
    Versioned.commit(Seq.empty[(Long, String)].toDF("id", "v"), path)
    Versioned.declareIdentity(spark, path, "id", start = 1L, step = 1L)
    Versioned.appendCommit(Seq("a", "b").toDF("v"), path)
    assert(Versioned.read(spark, path).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    assert(Versioned.identityColumns(path)("id")._4.contains(2L))
    val e = intercept[IllegalArgumentException](
      Versioned.appendCommit(Seq((9L, "x")).toDF("id", "v"), path))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // contended generating appends: the claim-rebase re-runs the fill
    val results = Await.result(Future.sequence((1 to 4).map { i =>
      Future(
        try Right(Versioned.appendCommit(Seq(s"c$i").toDF("v"), path))
        catch { case ex: Exception => Left(ex.getMessage) })
    }), 180.seconds)
    assert(results.forall(_.isRight), s"a contending graft identity append failed: $results")
    val ids = Versioned.read(spark, path).select("id").as[Long].collect().sorted
    assert(ids.length == 6 && ids.distinct.length == 6,
      s"graft contended generation produced duplicates: ${ids.toSeq}")
    assert(ids.toSeq == (1L to 6L), ids.toSeq.toString)
    assert(Versioned.identityColumns(path)("id")._4.contains(6L))
    // MERGE gates mirror Delta's: ALWAYS refuses inserts and id changes
    val em1 = intercept[IllegalArgumentException](
      Versioned.upsert(spark, path, Seq((99L, "new")).toDF("id", "v"), "id"))
    assert(em1.getMessage.contains("merge INSERT"), em1.getMessage)
    val em2 = intercept[IllegalArgumentException](
      Versioned.upsert(spark, path, Seq((77L, "a")).toDF("id", "v"), "v"))
    assert(em2.getMessage.contains("must not change"), em2.getMessage)
    Versioned.upsert(spark, path, Seq((2L, "b-upd")).toDF("id", "v"), "id") // matched: fine
    assert(Versioned.read(spark, path).filter(col("id") === 2L)
      .select("v").as[String].head() == "b-upd")
  }

  test("graft-native: every append/commit verb generates — once, partitioned, overwrite") {
    import spark.implicits._
    val path = freshDir("id_graft_verbs")
    Versioned.commit(Seq.empty[(Long, String)].toDF("id", "v"), path)
    Versioned.declareIdentity(spark, path, "id")
    // exactly-once appends generate; the REPLAY does not re-generate
    Versioned.appendCommitOnce(Seq("a", "b").toDF("v"), path, "batch1")
    val v1 = Versioned.currentVersion(path).get
    assert(Versioned.appendCommitOnce(Seq("a", "b").toDF("v"), path, "batch1") == v1,
      "a replayed batch must no-op")
    assert(Versioned.read(spark, path).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    assert(Versioned.identityColumns(path)("id")._4.contains(2L))
    // a full-snapshot replace mirrors Delta's overwrite: generation
    // resumes PAST the watermark (truncate never resets identity),
    // and the declaration survives the republished schema
    Versioned.commit(Seq("z").toDF("v"), path)
    assert(Versioned.read(spark, path).select("id").as[Long].head() == 3L)
    assert(Versioned.identityColumns(path)("id")._4.contains(3L),
      "the declaration and watermark must survive a full-snapshot replace")
    // ALWAYS-carried full replace refuses like an append would
    val e = intercept[IllegalArgumentException](
      Versioned.commit(Seq((9L, "x")).toDF("id", "v"), path))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // (the partitioned feed path carries the same fill — but an EMPTY
    // partitioned table exposes no layout for appendCommitPartitioned
    // to target, so a declared-then-partitioned table is unreachable
    // today; the fill is wired for when the layout bootstrap allows it)
  }

  test("graft-native BY DEFAULT: merge explicit ids ratchet the watermark") {
    import spark.implicits._
    val path = freshDir("id_graft_bd")
    Versioned.commit(Seq.empty[(Long, String)].toDF("id", "v"), path)
    Versioned.declareIdentity(spark, path, "id", allowExplicitInsert = true)
    Versioned.appendCommit(Seq("a", "b").toDF("v"), path)
    Versioned.upsert(spark, path, Seq((10L, "merged")).toDF("id", "v"), "id")
    assert(Versioned.identityColumns(path)("id")._4.contains(10L),
      "a BY-DEFAULT merge must ratchet the graft watermark past its explicit ids")
    Versioned.appendCommit(Seq("c").toDF("v"), path)
    assert(Versioned.read(spark, path).filter(col("v") === "c")
      .select("id").as[Long].head() == 11L)
  }

  test("negative step descends from start; BY-DEFAULT min ratchet is direction-aware") {
    import spark.implicits._
    val path = freshDir("id_delta_neg")
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), path)
    DeltaLake.declareIdentity(spark, path, "id",
      DeltaLake.IdentitySpec(start = 0L, step = -10L, allowExplicitInsert = true))
    DeltaLake.write(Seq("a", "b").toDF("v"), path, mode = SaveMode.Append)
    assert(DeltaLake.read(spark, path).select("id").as[Long].collect().sorted.toSeq
      == Seq(-10L, 0L))
    DeltaLake.write(Seq((-95L, "x")).toDF("id", "v"), path, mode = SaveMode.Append)
    DeltaLake.write(Seq("c").toDF("v"), path, mode = SaveMode.Append)
    val ids = DeltaLake.read(spark, path).select("id").as[Long].collect().sorted
    // the explicit -95 ratchets to grid point -100; the next generated is -110
    assert(ids.toSeq == Seq(-110L, -95L, -10L, 0L), ids.toSeq.toString)
  }

  test("SQL surface: CREATE TABLE ... GENERATED ALWAYS AS IDENTITY on delta and graft") {
    import spark.implicits._
    val whd = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test",
      "warehouse", "dbid")
    Writers.deleteTree(whd)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dbid")
    spark.sql("""CREATE TABLE graft.dbid.td (
      id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 10),
      v STRING) USING delta""")
    val dp = whd.resolve("td").toString
    assert(DeltaLake.identityColumns(spark, dp) ==
      Map("id" -> (DeltaLake.IdentitySpec(100L, 10L, allowExplicitInsert = false), None)))
    // API append generates; SQL INSERT of explicit values refuses (ALWAYS)
    DeltaLake.write(Seq("a", "b").toDF("v"), dp, mode = SaveMode.Append)
    assert(spark.table("graft.dbid.td").select("id").as[Long].collect().sorted.toSeq
      == Seq(100L, 110L))
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.dbid.td VALUES (999, 'x')"))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // BY DEFAULT declaration parses and allows explicit SQL inserts
    spark.sql("""CREATE TABLE graft.dbid.tbd (
      id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING) USING delta""")
    spark.sql("INSERT INTO graft.dbid.tbd VALUES (7, 'x')")
    assert(spark.table("graft.dbid.tbd").select("id").as[Long].head() == 7L)
    // graft-native leg
    spark.sql("""CREATE TABLE graft.dbid.tg (
      id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) USING graft""")
    val gp = whd.resolve("tg").toString
    Versioned.appendCommit(Seq("g").toDF("v"), gp)
    assert(spark.table("graft.dbid.tg").select("id").as[Long].head() == 1L)
    // iceberg: no identity concept in the spec — loud refusal, nothing created
    val ei = intercept[Exception](spark.sql("""CREATE TABLE graft.dbid.ti (
      id BIGINT GENERATED ALWAYS AS IDENTITY, v STRING) USING iceberg"""))
    assert(ei.getMessage.contains("no identity"), ei.getMessage)
  }

  test("MERGE and UPDATE respect identity: ALWAYS refuses, BY DEFAULT ratchets") {
    import spark.implicits._
    // ALWAYS: a merge INSERT would land explicit values — refused; a
    // matched update must not change a row's id; updateWhere cannot
    // SET the column at all
    val ap = freshDir("id_merge_always")
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), ap)
    DeltaLake.declareIdentity(spark, ap, "id")
    DeltaLake.write(Seq("a", "b", "c").toDF("v"), ap, mode = SaveMode.Append)
    val e1 = intercept[IllegalArgumentException](
      DeltaLake.upsertByKey(spark, ap, Seq((10L, "new")).toDF("id", "v"), "id"))
    assert(e1.getMessage.contains("merge INSERT"), e1.getMessage)
    // matched-only merge keyed BY the identity column is legal
    DeltaLake.upsertByKey(spark, ap, Seq((2L, "b2")).toDF("id", "v"), "id")
    assert(DeltaLake.read(spark, ap).filter(col("id") === 2L)
      .select("v").as[String].head() == "b2")
    // a non-key merge that would CHANGE a matched row's id refuses
    val e2 = intercept[IllegalArgumentException](
      DeltaLake.upsertByKey(spark, ap, Seq((99L, "b2")).toDF("id", "v"), "v"))
    assert(e2.getMessage.contains("must not change"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      DeltaLake.updateWhere(spark, ap,
        Map("id" -> org.apache.spark.sql.functions.lit(50L)), Some(col("v") === "a")))
    assert(e3.getMessage.contains("cannot be updated"), e3.getMessage)
    // the graft-native table refuses the same UPDATE
    val gp = freshDir("id_update_graft")
    Versioned.commit(Seq.empty[(Long, String)].toDF("id", "v"), gp)
    Versioned.declareIdentity(spark, gp, "id")
    Versioned.appendCommit(Seq("a", "b").toDF("v"), gp)
    val e4 = intercept[IllegalArgumentException](
      Versioned.updateWhere(spark, gp, Map("id" -> lit(50L)), Some(col("v") === "a")))
    assert(e4.getMessage.contains("cannot be updated"), e4.getMessage)
    // BY DEFAULT: a merge insert of an explicit id passes AND ratchets
    // the watermark (O(updates)) so later generation cannot collide
    val bp = freshDir("id_merge_bydefault")
    DeltaLake.write(Seq.empty[(Long, String)].toDF("id", "v"), bp)
    DeltaLake.declareIdentity(spark, bp, "id",
      DeltaLake.IdentitySpec(allowExplicitInsert = true))
    DeltaLake.write(Seq("a", "b").toDF("v"), bp, mode = SaveMode.Append)
    DeltaLake.upsertByKey(spark, bp, Seq((10L, "merged")).toDF("id", "v"), "id")
    assert(DeltaLake.identityColumns(spark, bp)("id")._2.contains(10L),
      "a BY-DEFAULT merge must ratchet the watermark past its explicit ids")
    DeltaLake.write(Seq("c").toDF("v"), bp, mode = SaveMode.Append)
    assert(DeltaLake.read(spark, bp).filter(col("v") === "c")
      .select("id").as[Long].head() == 11L)
  }

  test("CALL sync_identity repairs a watermark a BY-DEFAULT SET left behind") {
    import spark.implicits._
    val whd = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test",
      "warehouse", "dbids")
    Writers.deleteTree(whd)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dbids")
    spark.sql("""CREATE TABLE graft.dbids.t (
      id BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING) USING delta""")
    val dp = whd.resolve("t").toString
    DeltaLake.write(Seq("a", "b", "c").toDF("v"), dp, mode = SaveMode.Append)
    assert(DeltaLake.identityColumns(spark, dp)("id")._2.contains(3L))
    // a BY-DEFAULT UPDATE ... SET id = 10 is legal but bypasses the
    // watermark — the gap SYNC IDENTITY repairs (same contract as the
    // reference implementation's ALTER TABLE ... SYNC IDENTITY)
    DeltaLake.updateWhere(spark, dp,
      Map("id" -> org.apache.spark.sql.functions.lit(10L)), Some(col("v") === "c"))
    assert(DeltaLake.identityColumns(spark, dp)("id")._2.contains(3L),
      "updateWhere does not ratchet — that is what sync repairs")
    spark.sql("CALL graft.system.sync_identity('dbids.t', column => 'id')").collect()
    assert(DeltaLake.identityColumns(spark, dp)("id")._2.contains(10L))
    DeltaLake.write(Seq("d").toDF("v"), dp, mode = SaveMode.Append)
    assert(DeltaLake.read(spark, dp).filter(col("v") === "d")
      .select("id").as[Long].head() == 11L,
      "generation must resume past the synced watermark")
    // refusals: non-identity column; non-delta format
    val e1 = intercept[Exception](spark.sql(
      "CALL graft.system.sync_identity('dbids.t', column => 'v')").collect())
    assert(e1.getMessage.contains("not an identity column"), e1.getMessage)
    spark.sql("CREATE TABLE graft.dbids.ti (k BIGINT) USING iceberg")
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.system.sync_identity('dbids.ti', column => 'k')").collect())
    assert(e2.getMessage.contains("identityColumns"), e2.getMessage)
  }

  /** Run `ours` with `rival` landing at its first version claim. */
  private def underRival[T](rival: => Unit)(ours: => T): T = {
    var pending = true
    var fired = false
    val p = new LockProvider {
      def tryAcquire(fs: FileSystem, dir: HPath) = {
        if (pending) { pending = false; rival; fired = true }
        LocalExclusiveLock.tryAcquire(fs, dir)
      }
      def release(fs: FileSystem, dir: HPath) = LocalExclusiveLock.release(fs, dir)
      def isHeld(fs: FileSystem, dir: HPath) = LocalExclusiveLock.isHeld(fs, dir)
      def heldSinceMs(fs: FileSystem, dir: HPath) = LocalExclusiveLock.heldSinceMs(fs, dir)
    }
    try Versioned.withLockProvider(p)(ours)
    finally assert(fired, "the rival never ran under our commit")
  }

  test("graft-native: an explicit BY-DEFAULT append rebasing over a generating rival keeps its watermark") {
    import spark.implicits._
    Seq[(String, (org.apache.spark.sql.DataFrame, String) => Long)](
      "appendCommit" -> ((df, p) => Versioned.appendCommit(df, p)),
      "appendCommitOnce" -> ((df, p) => Versioned.appendCommitOnce(df, p, "ours"))
    ).foreach { case (verb, append) =>
      val path = freshDir(s"id_graft_bd_rival_$verb")
      Versioned.commit(Seq.empty[(Long, String)].toDF("id", "v"), path)
      Versioned.declareIdentity(spark, path, "id", start = 10L, step = 10L,
        allowExplicitInsert = true)
      Versioned.appendCommit(Seq("seed").toDF("v"), path) // 10
      // our explicit 15 ratchets the watermark to 20 on the base we
      // read; the rival generates 20, 30, 40 before our claim
      underRival(Versioned.appendCommit(Seq("r1", "r2", "r3").toDF("v"), path))(
        append(Seq((15L, "ours")).toDF("id", "v"), path))
      assert(Versioned.identityColumns(path)("id")._4.contains(40L),
        s"$verb: the watermark must not move back behind the rival's")
      Versioned.appendCommit(Seq("next").toDF("v"), path)
      val ids = Versioned.read(spark, path).select("id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(10L, 15L, 20L, 30L, 40L, 50L), s"$verb: $ids")
    }
  }

  test("Delta: an append rebasing over a generating rival keeps the rival's watermarks") {
    import spark.implicits._
    HookFs.register(spark.sparkContext.hadoopConfiguration)
    val path = HookFs.freshDir("id_delta_bd_rival")
    DeltaLake.write(Seq.empty[(Long, Long, String)].toDF("id", "seq", "v"), path)
    DeltaLake.declareIdentity(spark, path, "id",
      DeltaLake.IdentitySpec(start = 10L, step = 10L, allowExplicitInsert = true))
    DeltaLake.declareIdentity(spark, path, "seq")
    DeltaLake.write(Seq("seed").toDF("v"), path, mode = SaveMode.Append) // id 10, seq 1
    // ours carries id 15 and generates seq; the rival generates both
    // (id 20, 30, 40) before our commit file lands, so our rebase
    // re-stamps seq and must keep id's watermark at the rival's 40
    var fired = false
    HookFs.beforeCommit {
      DeltaLake.write(Seq("r1", "r2", "r3").toDF("v"), path, mode = SaveMode.Append)
      fired = true
    }
    try DeltaLake.write(Seq((15L, "ours")).toDF("id", "v"), path, mode = SaveMode.Append)
    finally HookFs.disarm()
    assert(fired, "the rival never ran under our commit")
    val hwms = DeltaLake.identityColumns(spark, path).map { case (c, (_, h)) => c -> h }
    assert(hwms == Map("id" -> Some(40L), "seq" -> Some(5L)), s"watermarks after the rebase: $hwms")
    DeltaLake.write(Seq("next").toDF("v"), path, mode = SaveMode.Append)
    val rows = DeltaLake.read(spark, path).select("id", "seq").as[(Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq(10L, 15L, 20L, 30L, 40L, 50L), rows.toSeq)
    assert(rows.map(_._2).sorted.toSeq == (1L to 6L), rows.toSeq)
  }

  test("an identity-free append runs no identity job") {
    import spark.implicits._
    val gp = freshDir("id_free_graft")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), gp)
    val (_, graftJobs) = JobCount(spark)(Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), gp))
    val dp = freshDir("id_free_delta")
    DeltaLake.write(Seq((1L, "a")).toDF("k", "v"), dp)
    val (_, deltaJobs) = JobCount(spark)(
      DeltaLake.write(Seq((2L, "b")).toDF("k", "v"), dp, mode = SaveMode.Append))
    // each append's one job is its data write: the identity rules read
    // the schema and start nothing on a table that declares no column
    assert(graftJobs == 1 && deltaJobs == 1, s"Versioned $graftJobs jobs, Delta $deltaJobs")
  }

  test("only the identity core holds the identity keys and generates ids") {
    val root = Paths.get("src/main/scala")
    val markers = Seq("""identity\.(start|step|allowExplicitInsert|highWaterMark)""",
      """IdentityGen\.(ratchet|assign)""")
    val hits: Seq[(String, String)] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        markers.filter(_.r.findFirstIn(text).nonEmpty).map(_ -> root.relativize(p).toString)
      }
    assert(hits.map(_._2).toSet == Set("graft/interop/Identity.scala"),
      s"identity keys or id generation outside the identity core: $hits")
  }
}
