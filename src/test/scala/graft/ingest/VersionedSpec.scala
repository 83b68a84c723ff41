package graft.ingest

import graft.SparkFixture
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class VersionedSpec extends AnyFunSuite with SparkFixture {

  private def freshDir(name: String): String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    Writers.deleteTree(p) // the production recursive delete, not a spec-local copy
    p.toString
  }

  /** Run `body` with the rebase wait window shrunk: tests that stage a
    * CRASHED claim (one that never publishes) should not pay the full
    * production in-flight wait before the conflict surfaces. */
  private def withShortInflightWait[T](body: => T): T = {
    sys.props("graft.versioned.inflightWaitMs") = "250"
    try body finally sys.props.remove("graft.versioned.inflightWaitMs")
  }

  test("commitClustered: a small frame's file ranges are exact whatever jobs ran before") {
    import org.apache.spark.sql.functions.{col, max, min}
    import spark.implicits._
    // the range exchange seeds its sampler from the shuffle's RDD id; a
    // few extra jobs before each commit shift that id
    val layouts = (0 until 3).map { shift =>
      (0 until shift).foreach(_ => spark.range(1).count())
      val path = freshDir(s"v_clustered_exact_$shift")
      Versioned.commitClustered((0L until 4000L).toDF("k"), path, clusterCol = "k", nFiles = 8)
      Versioned.read(spark, path).groupBy(col("_metadata.file_path"))
        .agg(min("k"), max("k")).as[(String, Long, Long)].collect()
        .map { case (_, lo, hi) => (lo, hi) }.toSeq.sorted
    }
    val exact = (0L until 8L).map(i => (i * 500L, i * 500L + 499L))
    layouts.foreach(l => assert(l == exact, s"clustered file ranges: $l"))
  }

  test("legacy 4-field manifest lines (stats as 4th field, no size) still read and prune") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = freshDir("v_legacy_manifest")
    Versioned.commitClustered((1L to 1000L).map(i => (i, s"r$i")).toDF("k", "v"),
      path, clusterCol = "k", nFiles = 4)
    // rewrite the on-disk manifest to the PRE-r14 line format: drop the
    // size field so stats JSON is the 4th field again
    val mf = Paths.get(path, "v00001", "_manifest")
    val legacy = new String(Files.readAllBytes(mf), "UTF-8").split("\n").map { line =>
      val parts = line.split("\t")
      // kind \t partDir \t relPath \t size [\t stats] -> kind \t partDir \t relPath [\t stats]
      (parts.take(3) ++ parts.drop(4)).mkString("\t")
    }.mkString("\n")
    Files.write(mf, legacy.getBytes("UTF-8"))
    Files.deleteIfExists(mf.resolveSibling("._manifest.crc"))
    // reads (sizes fall back to getFileStatus) and stats-pruning both work
    assert(Versioned.read(spark, path).count() == 1000L)
    val eq = spark.read.format("graft-versioned").load(path).filter(col("k") === 42L)
    assert(eq.count() == 1L)
    val (kept, total) = org.apache.spark.sql.graft.VersionedFileIndex.lastPlanned(path).get
    assert(kept < total, s"legacy stats field must still prune ($kept/$total)")
  }

  test("commit/read round trip; versions increment; upsert merges by key") {
    import spark.implicits._
    val path = freshDir("versioned_rt")
    assert(Versioned.currentVersion(path).isEmpty)
    val v1 = Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    assert(v1 == 1L && Versioned.currentVersion(path).contains(1L))
    val v2 = Versioned.upsert(spark, path, Seq((2L, "b2"), (3L, "c")).toDF("k", "v"), "k")
    assert(v2 == 2L)
    val cur = Versioned.read(spark, path).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // time travel: v1 unchanged by the merge
    val old = Versioned.readAt(spark, path, 1L).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old == Map(1L -> "a", 2L -> "b"))
    assert(Versioned.versions(path) == Seq(1L, 2L))
  }

  test("a crashed commit (claimed, data written, marker missing) is invisible to readers") {
    import spark.implicits._
    val path = freshDir("versioned_crash")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)
    // simulate a crash: the v2 attempt claimed its dir and even finished
    // writing data, but died before the _committed marker
    val v2dir = Paths.get(path, "v00002")
    Files.createDirectories(v2dir)
    Files.createFile(v2dir.resolve("_claim"))
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(v2dir.resolve("data").toString)
    assert(Versioned.currentVersion(path).contains(1L), "uncommitted attempt must be invisible")
    assert(Versioned.read(spark, path).count() == 1)
    intercept[IllegalArgumentException](Versioned.readAt(spark, path, 2L))
    // a replace-all commit must NOT reuse the claimed version (advances)
    val v = Versioned.commit(Seq((2L, "b")).toDF("k", "v"), path)
    assert(v == 3L, s"claimed-but-crashed version was reused: got v$v")
    assert(Versioned.versions(path) == Seq(1L, 3L))
    // …while a DERIVED commit from base 3 needs slot 4, which is free
    assert(Versioned.appendCommit(Seq((4L, "d")).toDF("k", "v"), path) == 4L)
  }

  test("a derived commit whose base+1 slot is claimed fails loudly instead of dropping the rival") {
    import spark.implicits._
    val path = freshDir("versioned_conflict")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)
    // rival writer (or crashed attempt) holds the base+1 slot — it never
    // publishes, so even the append's rebase path must time out and throw
    val v2dir = Paths.get(path, "v00002")
    Files.createDirectories(v2dir)
    Files.createFile(v2dir.resolve("_claim"))
    withShortInflightWait {
      intercept[java.util.ConcurrentModificationException](
        Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), path))
    }
    intercept[java.util.ConcurrentModificationException](
      Versioned.upsert(spark, path, Seq((1L, "x")).toDF("k", "v"), "k"))
    assert(Versioned.versions(path) == Seq(1L), "a losing derived commit must publish nothing")
    // age-gated recovery clears the crashed claim; the derived commit then lands
    assert(Versioned.recoverClaims(path, olderThanMs = 0L) == Seq(2L))
    assert(Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), path) == 2L)
    assert(Versioned.read(spark, path).count() == 2)
  }

  test("concurrent same-schema appends ALL land via rebase — no losers, no lost update") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_lostupdate")
    Versioned.commit(Seq((0L, "base")).toDF("k", "v"), path)
    // a pure add has no read set and removes nothing, so the claim loser
    // waits for the rival to publish and rebases onto it (the schema/id
    // mapping is unchanged) — every contender must land, every row must
    // survive, and no two may share a version
    val results = Await.result(Future.sequence((1 to 4).map { i =>
      Future(
        try Right(Versioned.appendCommit(Seq((i.toLong, s"w$i")).toDF("k", "v"), path))
        catch { case e: java.util.ConcurrentModificationException => Left(e) })
    }), 120.seconds)
    val wins = results.collect { case Right(v) => v }
    assert(wins.size == 4, s"a contending append failed instead of rebasing: $results")
    assert(wins.distinct.size == 4, s"two appends shared a version: $results")
    assert(Versioned.read(spark, path).count() == 5,
      s"an append's rows were lost in the rebase: ${results}")
    assert(Versioned.versions(path) == (1L to 5L),
      s"rebased appends must land consecutively: ${Versioned.versions(path)}")
  }

  test("appendCommitOnce raced with ITSELF commits exactly once; rebases keep rival batch ids") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_once_race")
    Versioned.commit(Seq((0L, "base")).toDF("k", "v"), path)
    // 2 replicas × 3 distinct batches, all concurrent: the exactly-once
    // contract is per batch id — a replica that loses the claim race
    // rebases, re-reads the index at the derived base, and must find its
    // twin's commit there instead of double-committing the batch
    val results = Await.result(Future.sequence((1 to 6).map { i =>
      val batch = s"b${(i - 1) % 3}"
      Future(batch -> Versioned.appendCommitOnce(
        Seq((i.toLong, batch)).toDF("k", "v"), path, batch))
    }), 120.seconds)
    val byBatch = results.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(byBatch.forall(_._2.size == 1),
      s"a replayed batch id landed under two versions: $results")
    assert(Versioned.read(spark, path).count() == 1 + 3,
      "a batch double-committed (or a winner's rows were lost)")
    // and the final index carries all three ids — a rebase that dropped
    // a rival's id would let a later replay of it double-commit
    val head = Versioned.currentVersion(path).get
    val replay = Versioned.appendCommitOnce(Seq((99L, "b0")).toDF("k", "v"), path, "b0")
    assert(replay == byBatch("b0").head && Versioned.currentVersion(path).get == head,
      "a post-race replay re-committed: the rebased index lost the rival's batch id")
  }

  test("an append never rebases over a rival that moved the schema/column-id mapping") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_append_schema_conflict")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)
    // stage the race: the v2 slot is claimed (in-flight rival), the
    // append starts waiting on it, and THEN the rival publishes as a
    // schema evolution — a rename landing mid-wait. The waiter must
    // refuse to rebase: republishing its own (k, v) mapping on top
    // would silently revert the rival's rename.
    val v2dir = Paths.get(path, "v00002")
    Files.createDirectories(v2dir)
    Files.createFile(v2dir.resolve("_claim"))
    val waiter = Future(
      try Left(Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), path))
      catch { case e: java.util.ConcurrentModificationException => Right(e.getMessage) })
    Thread.sleep(2000) // the append has read base=1 and is waiting on the claim
    Files.write(v2dir.resolve("_delta"), "base\t1".getBytes("UTF-8"))
    val rivalSchema = Seq((1L, "a")).toDF("k", "label").schema.json
    Files.write(v2dir.resolve("_meta"),
      s"graft.schema\t$rivalSchema\ngraft.colIds\tk:1,label:2\ngraft.chainLen\t1".getBytes("UTF-8"))
    Files.createFile(v2dir.resolve("_committed"))
    val got = Await.result(waiter, 60.seconds)
    assert(got.isRight && got.toOption.get.contains("mapping"),
      s"the append should have conflicted on the moved mapping: $got")
    assert(Versioned.versions(path) == Seq(1L, 2L), "the losing append must publish nothing")
  }

  test("a merge-on-read delete keyed on a missing column is rejected before committing") {
    import spark.implicits._
    val path = freshDir("versioned_mor_badkey")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)
    // committing this would poison every later read AND the compaction
    // repair path — it must fail loudly up front instead
    val e = intercept[IllegalArgumentException](
      Versioned.deleteMergeOnRead(spark, path, Seq(1L).toDF("wrong_key"), "wrong_key"))
    assert(e.getMessage.contains("wrong_key"))
    assert(Versioned.versions(path) == Seq(1L), "the poison delete must not commit")
    assert(Versioned.read(spark, path).count() == 1)
  }

  test("vacuum pins the base of an in-flight derived commit and everything it references") {
    import spark.implicits._
    val path = freshDir("versioned_vacuum_pin")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)            // v1
    Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), path)      // v2 (references v1)
    // an in-flight derived commit from base 2 holds the claim on v3…
    val v3dir = Paths.get(path, "v00003")
    Files.createDirectories(v3dir)
    Files.createFile(v3dir.resolve("_claim"))
    // …while a replace-all writer lands v4
    Versioned.commit(Seq((9L, "z")).toDF("k", "v"), path)            // v4
    // keepLast=1 would normally reclaim v1+v2 — but the v3 writer carries
    // v2's manifest (which references v1): both must survive until the
    // claim resolves
    assert(Versioned.vacuum(path, keepLast = 1) == 0,
      "vacuum deleted versions an in-flight derived commit still references")
    assert(Versioned.readAt(spark, path, 2L).count() == 2)
    // once the claim is reclaimed, the same vacuum reclaims v1+v2
    Versioned.recoverClaims(path, olderThanMs = 0L)
    assert(Versioned.vacuum(path, keepLast = 1) == 2)
    assert(Versioned.versions(path) == Seq(4L))
  }

  test("full-rewrite delete and a clean-table compaction respect the partitioned layout") {
    import spark.implicits._
    val path = freshDir("versioned_del_layout")
    Versioned.commitPartitioned(
      Seq((1L, "a", "P1"), (2L, "b", "P2"), (3L, "c", "P2")).toDF("k", "v", "pt"), path, "pt")
    // compaction with no outstanding deletes is a NO-OP, not a rewrite
    assert(Versioned.compactDeletes(spark, path) == 1L)
    assert(Versioned.versions(path) == Seq(1L))
    // a copy-on-write delete preserves the Hive layout…
    Versioned.delete(spark, path, Seq(1L).toDF("k"), "k")
    assert(Versioned.manifest(path, 2L).forall(_.partDir.startsWith("pt=")),
      "delete flattened the partitioned layout")
    // …so partition-scoped merges still work afterwards
    Versioned.upsertPartitioned(spark, path, Seq((2L, "b2", "P2")).toDF("k", "v", "pt"), "k", "pt")
    val rows = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows == Map(2L -> "b2", 3L -> "c"))
  }

  test("a reader pinned before a commit keeps its snapshot (isolation), even mid-plan") {
    import spark.implicits._
    val path = freshDir("versioned_pin")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    val pinned = Versioned.read(spark, path) // resolves v1 NOW
    Versioned.upsert(spark, path, Seq((1L, "CHANGED")).toDF("k", "v"), "k")
    // the pinned frame still reads v1's immutable directory
    val got = pinned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b"), s"snapshot isolation broken: $got")
    // while a fresh resolve sees v2
    val now = Versioned.read(spark, path).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "CHANGED", 2L -> "b"))
  }

  test("vacuum keeps the newest K committed versions; crashed claims need age-gated recovery") {
    import spark.implicits._
    val path = freshDir("versioned_vacuum")
    for (i <- 1 to 4) Versioned.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"), path)
    // plus a crashed attempt between 4 and a fifth (replace-all) commit
    val crashed = Paths.get(path, "v00005")
    Files.createDirectories(crashed)
    Files.createFile(crashed.resolve("_claim"))
    Versioned.commit(Seq((6L, "v6")).toDF("k", "v"), path) // v6
    val removed = Versioned.vacuum(path, keepLast = 2)
    // committed history is 1,2,3,4,6 (the claim collision pushed the last
    // commit to v6); keep {4,6} → doomed: v1,v2,v3. The crashed v5 is NOT
    // vacuum's to take — it might belong to a live writer
    assert(removed == 3, s"expected 3 committed dirs removed, got $removed")
    assert(Files.exists(crashed), "vacuum must not touch an uncommitted claim")
    assert(Versioned.versions(path) == Seq(4L, 6L))
    intercept[IllegalArgumentException](Versioned.readAt(spark, path, 1L))
    assert(Versioned.readAt(spark, path, 4L).count() == 1)
    intercept[IllegalArgumentException](Versioned.vacuum(path, 0))
    // the crashed claim is recoverClaims' job, behind an age threshold
    assert(Versioned.recoverClaims(path, olderThanMs = 1000L * 3600) == Nil)
    assert(Versioned.recoverClaims(path, olderThanMs = 0L) == Seq(5L))
    assert(!Files.exists(crashed))
  }

  test("partitioned merge rewrites only touched partitions; untouched files carry by reference") {
    import spark.implicits._
    val path = freshDir("versioned_cow")
    val base = Seq((1L, "a", "P1"), (2L, "b", "P1"), (3L, "c", "P2"), (4L, "d", "P3"))
      .toDF("k", "v", "pt")
    Versioned.commitPartitioned(base, path, "pt")
    Versioned.upsertPartitioned(spark, path, Seq((3L, "c2", "P2")).toDF("k", "v", "pt"), "k", "pt")
    // content: only P2 changed
    val cur = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[String]("v"), r.getAs[String]("pt"))).toMap
    assert(cur == Map(1L -> ("a", "P1"), 2L -> ("b", "P1"), 3L -> ("c2", "P2"), 4L -> ("d", "P3")))
    // layout: P1/P3 files are v1's, verbatim; P2's are v2's
    val m1 = Versioned.manifest(path, 1L).toSet
    val m2 = Versioned.manifest(path, 2L)
    val (p2, rest) = m2.partition(_.partDir == "pt=P2")
    assert(rest.nonEmpty && rest.forall(m1.contains), "untouched partitions were rewritten")
    assert(rest.forall(_.relPath.startsWith("v00001/")))
    assert(p2.nonEmpty && p2.forall(_.relPath.startsWith("v00002/")))
    // partition column reconstructs across mixed-version file groups
    assert(Versioned.read(spark, path).filter($"pt" === "P1").count() == 2)
    // time travel still sees the pre-merge P2
    assert(Versioned.readAt(spark, path, 1L).filter($"k" === 3L)
      .collect().head.getAs[String]("v") == "c")
  }

  test("merging into a brand-new partition needs no existing files to read") {
    import spark.implicits._
    val path = freshDir("versioned_newpart")
    Versioned.commitPartitioned(Seq((1L, "a", "P1")).toDF("k", "v", "pt"), path, "pt")
    Versioned.upsertPartitioned(spark, path, Seq((9L, "z", "P9")).toDF("k", "v", "pt"), "k", "pt")
    val cur = Versioned.read(spark, path).collect().map(r => r.getAs[Long]("k")).sorted.toSeq
    assert(cur == Seq(1L, 9L))
  }

  test("vacuum never deletes a version dir still referenced by a retained manifest") {
    import spark.implicits._
    val path = freshDir("versioned_ref_vacuum")
    Versioned.commitPartitioned(
      Seq((1L, "a", "P1"), (2L, "b", "P2")).toDF("k", "v", "pt"), path, "pt")
    Versioned.upsertPartitioned(spark, path, Seq((2L, "b2", "P2")).toDF("k", "v", "pt"), "k", "pt")
    // keepLast=1 retains only v2 — but v2's manifest references v1's P1
    // files, so v1's directory MUST survive
    val removed = Versioned.vacuum(path, keepLast = 1)
    assert(removed == 0, "vacuum deleted a version still referenced by the current manifest")
    val cur = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(cur == Map(1L -> "a", 2L -> "b2"))
    // a full rewrite (plain upsert) drops the reference; then v1/v2 can go
    Versioned.upsert(spark, path, Seq((1L, "a3", "P1")).toDF("k", "v", "pt"), "k")
    val removed2 = Versioned.vacuum(path, keepLast = 1)
    assert(removed2 == 2, s"expected v1+v2 reclaimed once unreferenced, got $removed2")
    assert(Versioned.read(spark, path).count() == 2)
  }

  test("appendCommit carries history by reference and tolerates an added column") {
    import spark.implicits._
    val path = freshDir("versioned_append")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    // day 2's extract carries a NEW column — older files must read NULL
    Versioned.appendCommit(Seq((3L, "c", 1.5)).toDF("k", "v", "score"), path)
    val m2 = Versioned.manifest(path, 2L)
    assert(m2.exists(_.relPath.startsWith("v00001/")), "append rewrote history instead of referencing it")
    assert(m2.exists(_.relPath.startsWith("v00002/")))
    val rows = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[Any]("score"))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(1.5)))
    // v1 time travel still has the pre-drift schema
    assert(!Versioned.readAt(spark, path, 1L).columns.contains("score"))
  }

  test("changes() emits exactly the keyed diff with correct images") {
    import spark.implicits._
    val path = freshDir("versioned_cdc")
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path)
    Versioned.upsert(spark, path, Seq((2L, "b2"), (4L, "d")).toDF("k", "v"), "k") // update + insert
    Versioned.delete(spark, path, Seq(1L).toDF("k"), "k")                         // delete
    val d12 = Versioned.changes(spark, path, 1L, 2L, "k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"), r.getAs[String]("v"))).sortBy(_._1)
    assert(d12.toSeq == Seq((2L, "update", "b2"), (4L, "insert", "d")),
      s"v1->v2 diff wrong: ${d12.toSeq}")
    val d23 = Versioned.changes(spark, path, 2L, 3L, "k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"), r.getAs[String]("v")))
    assert(d23.toSeq == Seq((1L, "delete", "a")), s"v2->v3 diff wrong: ${d23.toSeq}")
    // transitive feed: v1->v3 collapses the update+insert+delete correctly
    val d13 = Versioned.changes(spark, path, 1L, 3L, "k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).sortBy(_._1)
    assert(d13.toSeq == Seq((1L, "delete"), (2L, "update"), (4L, "insert")))
    // guard: inverted range fails loudly
    intercept[IllegalArgumentException](Versioned.changes(spark, path, 2L, 1L, "k"))
    // additive drift no longer refuses: the appended rows surface as
    // inserts flagged schema_change, and NOTHING else is re-reported
    Versioned.appendCommit(Seq((9L, "z", 0.1)).toDF("k", "v", "score"), path)
    val d34 = Versioned.changes(spark, path, 3L, 4L, "k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"),
        r.getAs[Boolean]("schema_change"), r.getAs[Double]("score")))
    assert(d34.toSeq == Seq((9L, "insert", true, 0.1)), s"drift feed wrong: ${d34.toSeq}")
  }

  test("appendCommitOnce is idempotent per batch id; meta is atomic with the commit") {
    import spark.implicits._
    val path = freshDir("versioned_once")
    val v1 = Versioned.appendCommitOnce(Seq((1L, "a")).toDF("k", "v"), path, batchId = "7")
    assert(v1 == 1L)
    val meta1 = Versioned.commitMeta(path, 1L)
    assert(meta1.get("graft.batchId").contains("7"))
    assert(meta1.get("graft.batchIds").contains("7:1"), "commit must carry the applied-id index")
    assert(meta1.contains("graft.schema"), "commit must record its schema")
    // replay of the same batch id: no new version, same version returned,
    // even though the data frame differs (a replay after crash re-derives
    // the batch — byte equality is not guaranteed, id equality is)
    val again = Versioned.appendCommitOnce(Seq((9L, "ghost")).toDF("k", "v"), path, batchId = "7")
    assert(again == 1L && Versioned.versions(path) == Seq(1L))
    assert(Versioned.read(spark, path).count() == 1)
    // the NEXT batch commits normally and appends
    val v2 = Versioned.appendCommitOnce(Seq((2L, "b")).toDF("k", "v"), path, batchId = "8")
    assert(v2 == 2L && Versioned.read(spark, path).count() == 2)
  }

  test("concurrent committers all land distinct committed versions (claim race)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_race")
    val futures = (1 to 6).map { i =>
      Future(Versioned.commit(Seq((i.toLong, s"w$i")).toDF("k", "v"), path))
    }
    val got = Await.result(Future.sequence(futures), 120.seconds)
    assert(got.toSet.size == 6, s"two writers shared a version: $got")
    assert(Versioned.versions(path).size == 6)
    // the table is last-commit-wins per version; every version is readable
    got.foreach(v => assert(Versioned.readAt(spark, path, v).count() == 1))
  }

  test("readPartitions prunes at the manifest — untouched partitions' files never reach Spark") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val path = freshDir("versioned_prune")
    Versioned.commitPartitioned(
      Seq((1L, "a", "P1"), (2L, "b", "P2"), (3L, "c", "P3")).toDF("k", "v", "pt"), path, "pt")
    Versioned.upsertPartitioned(spark, path, Seq((2L, "b2", "P2")).toDF("k", "v", "pt"), "k", "pt")
    val pruned = Versioned.readPartitions(spark, path, "pt", Set("P2"))
    assert(pruned.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq == Seq((2L, "b2")))
    // file-level proof: only pt=P2 paths were handed to the reader
    val files = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("pt=P2")), s"pruning leaked files: ${files.toSeq}")
    // asking for a partition that has no files fails loudly
    intercept[IllegalArgumentException](Versioned.readPartitions(spark, path, "pt", Set("NOPE")))
  }

  test("a deletion-vector read loads its run files without a schema-inference job") {
    import spark.implicits._
    val path = freshDir("versioned_dv_jobs")
    Versioned.commit((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"), path)
    Versioned.deleteMergeOnRead(spark, path, Seq(3L, 4L, 5L, 11L).toDF("k"), "k")
    val (df, jobs) = org.apache.spark.sql.graft.JobCount(spark)(Versioned.read(spark, path))
    // one job: the run-list collect; inferring the run files' schema was a second
    assert(jobs == 1, s"building the read started $jobs job(s)")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L).filterNot(Set(3L, 4L, 5L, 11L)))
  }

  test("merge-on-read delete rewrites nothing; a later append may reuse the key (sequencing)") {
    import spark.implicits._
    val path = freshDir("versioned_mor")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    Versioned.deleteMergeOnRead(spark, path, Seq(1L).toDF("k"), "k")
    // zero data files moved: v2's data entries are exactly v1's
    val m2 = Versioned.manifest(path, 2L)
    assert(m2.filter(_.kind == Versioned.KindData).toSet == Versioned.manifest(path, 1L).toSet)
    assert(m2.exists(e => e.kind == Versioned.KindDv && e.relPath.startsWith("v00002/")),
      "the delete must land as a positional deletion vector")
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a key deleted at v2 may be legitimately re-appended at v3: the
    // delete is version-sequenced and must NOT swallow the newer row
    Versioned.appendCommit(Seq((1L, "reborn")).toDF("k", "v"), path)
    val rows = Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "reborn", 2L -> "b"),
      s"delete swallowed a row appended AFTER it: $rows")
    // compaction folds the delete debt into pure data files, same content
    Versioned.compactDeletes(spark, path)
    assert(Versioned.manifest(path, 4L).forall(_.kind == Versioned.KindData))
    val after = Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == rows)
    // time travel through the MoR version still applies its delete
    assert(Versioned.readAt(spark, path, 2L).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("partition-scoped operations refuse while merge-on-read deletes are outstanding") {
    import spark.implicits._
    val path = freshDir("versioned_mor_guard")
    Versioned.commitPartitioned(
      Seq((1L, "a", "P1"), (2L, "b", "P2")).toDF("k", "v", "pt"), path, "pt")
    Versioned.deleteMergeOnRead(spark, path, Seq(1L).toDF("k"), "k")
    // carrying a partition by reference would detach it from the delete
    intercept[IllegalArgumentException](
      Versioned.upsertPartitioned(spark, path, Seq((2L, "b2", "P2")).toDF("k", "v", "pt"), "k", "pt"))
    intercept[IllegalArgumentException](
      Versioned.readPartitions(spark, path, "pt", Set("P2")))
    // read() applies the delete; after compaction the guards lift AND the
    // partitioned layout survives, so partition-scoped merges work again
    assert(Versioned.read(spark, path).collect().map(_.getAs[Long]("k")).toSeq == Seq(2L))
    Versioned.compactDeletes(spark, path)
    assert(Versioned.manifest(path, 3L).forall(_.partDir.startsWith("pt=")),
      "compaction flattened the Hive-partitioned layout")
    Versioned.upsertPartitioned(spark, path, Seq((2L, "b2", "P2")).toDF("k", "v", "pt"), "k", "pt")
    val rows = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows == Map(2L -> "b2"))
  }

  test("upsert rejects duplicate and NULL merge keys before touching history") {
    import spark.implicits._
    val path = freshDir("versioned_guard")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)
    intercept[IllegalArgumentException](
      Versioned.upsert(spark, path, Seq((2L, "x"), (2L, "y")).toDF("k", "v"), "k"))
    assert(Versioned.versions(path) == Seq(1L), "failed upsert must not create a version")
  }

  // ---- round 6: reader-plan bound, compaction, index, multi-col, GC ----

  /** Count parquet scan nodes in a frame's executed plan. */
  private def scanCount(df: org.apache.spark.sql.DataFrame): Int =
    "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).length

  test("a long same-schema append history reads as ONE scan; drift falls back to unions") {
    import spark.implicits._
    val path = freshDir("versioned_fastpath")
    for (i <- 1 to 12)
      Versioned.appendCommit(Seq((i.toLong, s"row$i")).toDF("k", "v"), path)
    val cur = Versioned.read(spark, path)
    assert(cur.count() == 12)
    assert(scanCount(cur) == 1,
      s"12 same-schema appends must collapse to one scan, got ${scanCount(cur)}:\n" +
        cur.queryExecution.executedPlan.toString.take(2000))
    // time travel mid-history also collapses
    assert(scanCount(Versioned.readAt(spark, path, 7L)) == 1)
    // a drift commit breaks schema uniformity → union path, still correct
    Versioned.appendCommit(Seq((13L, "row13", 9.9)).toDF("k", "v", "score"), path)
    val drifted = Versioned.read(spark, path)
    assert(drifted.count() == 13)
    assert(scanCount(drifted) > 1, "drift history cannot use the single-scan fast path")
    assert(drifted.filter($"score".isNull).count() == 12)
  }

  test("compactFiles folds a long history into one version with identical content") {
    import spark.implicits._
    val path = freshDir("versioned_compactfiles")
    for (i <- 1 to 10)
      Versioned.appendCommit(Seq((i.toLong, s"row$i", i * 1.5)).toDF("k", "v", "score"), path)
    val before = Versioned.read(spark, path).collect().map(_.toString).sorted.toSeq
    val v = Versioned.compactFiles(spark, path, numFiles = Some(2))
    assert(v == 11L)
    val m = Versioned.manifest(path, v)
    assert(m.forall(_.relPath.startsWith("v00011/")), "compaction must own every file")
    assert(m.size <= 2, s"numFiles=2 but compaction left ${m.size} files")
    val after = Versioned.read(spark, path).collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed the table's content")
    // compacting a compact table is a no-op, not another rewrite
    assert(Versioned.compactFiles(spark, path, numFiles = Some(2)) == 11L)
    assert(Versioned.versions(path).last == 11L)
    // …and the old history can now be vacuumed
    assert(Versioned.vacuum(path, keepLast = 1) == 10)
    assert(Versioned.read(spark, path).collect().map(_.toString).sorted.toSeq == before)
  }

  test("compactFiles preserves a partitioned layout (partition-scoped merges still work)") {
    import spark.implicits._
    val path = freshDir("versioned_compact_part")
    Versioned.commitPartitioned(
      Seq((1L, "a", "P1"), (2L, "b", "P2")).toDF("k", "v", "pt"), path, "pt")
    Versioned.upsertPartitioned(spark, path, Seq((2L, "b2", "P2")).toDF("k", "v", "pt"), "k", "pt")
    val v = Versioned.compactFiles(spark, path, numFiles = Some(1))
    assert(Versioned.manifest(path, v).forall(_.partDir.startsWith("pt=")),
      "compaction flattened the partitioned layout")
    Versioned.upsertPartitioned(spark, path, Seq((1L, "a3", "P1")).toDF("k", "v", "pt"), "k", "pt")
    val rows = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows == Map(1L -> "a3", 2L -> "b2"))
  }

  test("an all-rows delete publishes a readable EMPTY snapshot, and the table recovers") {
    import spark.implicits._
    val path = freshDir("versioned_empty")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    val v2 = Versioned.delete(spark, path, Seq(1L, 2L).toDF("k"), "k")
    assert(v2 == 2L)
    val empty = Versioned.read(spark, path)
    assert(empty.count() == 0, "empty snapshot must read as zero rows, not throw")
    assert(empty.columns.toSeq == Seq("k", "v"), "empty snapshot must keep the schema")
    // history before the wipe still time-travels
    assert(Versioned.readAt(spark, path, 1L).count() == 2)
    // the table keeps working: appends after the wipe are just the appends
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "v"), path)
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("replay detection is O(1) via the carried index and survives vacuum of old versions") {
    import spark.implicits._
    val path = freshDir("versioned_once_idx")
    for (i <- 1 to 5)
      Versioned.appendCommitOnce(Seq((i.toLong, s"b$i")).toDF("k", "v"), path, batchId = i.toString)
    // compact + vacuum: the version dirs that committed ids 1..4 are GONE
    Versioned.compactFiles(spark, path)
    assert(Versioned.vacuum(path, keepLast = 1) == 5)
    // …but compactFiles doesn't carry app meta; the detection walk sees
    // only the retained history. A mixed history's ids must still be
    // found IF any retained commit carries the index — so re-establish it
    Versioned.appendCommitOnce(Seq((7L, "b7")).toDF("k", "v"), path, batchId = "7")
    val idx = Versioned.commitMeta(path, Versioned.currentVersion(path).get)("graft.batchIds")
    assert(idx.contains("7:"), s"index not carried: $idx")
    // replay of id 7 after further commits: detected from the LATEST meta
    Versioned.appendCommitOnce(Seq((8L, "b8")).toDF("k", "v"), path, batchId = "8")
    val nVersions = Versioned.versions(path).size
    val replayed = Versioned.appendCommitOnce(Seq((99L, "ghost")).toDF("k", "v"), path, batchId = "7")
    assert(Versioned.versions(path).size == nVersions, "replay must not commit")
    assert(Versioned.read(spark, path).filter($"k" === 99L).count() == 0)
    // the index survives across Once-commits: id 8's commit carries 7 too
    val idx8 = Versioned.commitMeta(path, Versioned.currentVersion(path).get)("graft.batchIds")
    assert(idx8.contains("7:") && idx8.contains("8:"), s"index dropped an id: $idx8")
    // malformed ids are rejected up front
    intercept[IllegalArgumentException](
      Versioned.appendCommitOnce(Seq((1L, "x")).toDF("k", "v"), path, batchId = "a,b"))
  }

  test("replay of a batch whose ORIGINAL version was vacuumed is still detected (index carry)") {
    import spark.implicits._
    val path = freshDir("versioned_once_vac")
    for (i <- 1 to 4)
      Versioned.appendCommitOnce(Seq((i.toLong, s"b$i")).toDF("k", "v"), path, batchId = i.toString)
    // v4's index carries ids 1..4; vacuum everything below v4's refs is
    // impossible (appends reference history), so compact via Once first
    Versioned.appendCommitOnce(
      Versioned.read(spark, path).repartition(1), path, batchId = "nope") // just another append
    Versioned.compactFiles(spark, path)
    // rebuild the chain on top of the compacted snapshot
    Versioned.appendCommitOnce(Seq((9L, "b9")).toDF("k", "v"), path, batchId = "9")
    Versioned.vacuum(path, keepLast = 2)
    // the dirs that committed ids 1..4 are gone; id 9's walk rebuilt from
    // retained metas — id "2"'s replay must STILL be a no-op because v4's
    // meta (vacuumed)… is gone, but id 9's commit walked v5..v7 which
    // include v5's index carrying 1..4
    val before = Versioned.read(spark, path).count()
    Versioned.appendCommitOnce(Seq((66L, "ghost")).toDF("k", "v"), path, batchId = "2")
    assert(Versioned.read(spark, path).count() == before,
      "a replayed batch id re-committed after vacuum — exactly-once degraded")
  }

  test("multi-column partitioning: commit, merge by reference, prune, preserve through rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val path = freshDir("versioned_multipart")
    val base = Seq(
      (1L, "a", "2024-01-01", "EU"), (2L, "b", "2024-01-01", "US"),
      (3L, "c", "2024-01-02", "EU"), (4L, "d", "2024-01-02", "US"))
      .toDF("k", "v", "day", "region")
    Versioned.commitPartitioned(base, path, "day", "region")
    assert(Versioned.manifest(path, 1L).forall(e =>
      e.partDir.matches("day=[^/]+/region=[^/]+")), "two-level fragments expected")
    // merge touches exactly one (day, region) cell
    Versioned.upsertPartitioned(spark, path,
      Seq((3L, "c2", "2024-01-02", "EU")).toDF("k", "v", "day", "region"), "k", "day", "region")
    val m1 = Versioned.manifest(path, 1L).toSet
    val m2 = Versioned.manifest(path, 2L)
    val (touched, rest) = m2.partition(_.partDir == "day=2024-01-02/region=EU")
    assert(rest.size == 3 && rest.forall(m1.contains), "untouched cells were rewritten")
    assert(touched.nonEmpty && touched.forall(_.relPath.startsWith("v00002/")))
    // content + partition-column recovery across mixed-version groups
    val cur = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[String]("v"), r.getAs[String]("day"), r.getAs[String]("region"))).toMap
    assert(cur == Map(
      1L -> ("a", "2024-01-01", "EU"), 2L -> ("b", "2024-01-01", "US"),
      3L -> ("c2", "2024-01-02", "EU"), 4L -> ("d", "2024-01-02", "US")))
    // manifest-level pruning on the tuple
    val pruned = Versioned.readPartitionsWhere(spark, path,
      m => m("day") == "2024-01-02" && m("region") == "EU")
    assert(pruned.collect().map(_.getAs[Long]("k")).toSeq == Seq(3L))
    val files = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.forall(f => f.contains("day=2024-01-02") && f.contains("region=EU")),
      s"pruning leaked files: ${files.toSeq}")
    // wrong column set or order is a loud error, not a silent duplicate
    intercept[IllegalArgumentException](
      Versioned.upsertPartitioned(spark, path,
        Seq((1L, "x", "2024-01-01", "EU")).toDF("k", "v", "day", "region"), "k", "region", "day"))
    intercept[IllegalArgumentException](
      Versioned.upsertPartitioned(spark, path,
        Seq((1L, "x", "2024-01-01", "EU")).toDF("k", "v", "day", "region"), "k", "day"))
    // a full rewrite preserves the two-level layout
    Versioned.delete(spark, path, Seq(4L).toDF("k"), "k")
    assert(Versioned.manifest(path, 3L).forall(_.partDir.matches("day=[^/]+/region=[^/]+")),
      "rewrite flattened the multi-column layout")
  }

  test("changes() serves a pure-append window from ONLY the new files (no diff, no old reads)") {
    import spark.implicits._
    val path = freshDir("versioned_cdf_fast")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "v"), path)
    Versioned.appendCommit(Seq((4L, "d"), (1L, "a_dup")).toDF("k", "v"), path)
    val feed = Versioned.changes(spark, path, 1L, 3L, "k")
    // append semantics: every new ROW is an insert — including a key
    // collision, which the keyed diff would have misread as an update
    val rows = feed.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"), r.getAs[String]("v")))
      .sortBy(r => (r._1, r._3))
    assert(rows.toSeq == Seq((1L, "insert", "a_dup"), (3L, "insert", "c"), (4L, "insert", "d")),
      s"append feed wrong: ${rows.toSeq}")
    // file-level proof: the feed read ONLY v2+v3's files
    val srcs = feed.inputFiles.toSeq
    assert(srcs.nonEmpty && srcs.forall(f => f.contains("/v00002/") || f.contains("/v00003/")),
      s"append feed read old files: $srcs")
    // a rewrite in the window disables the fast path but stays correct
    // (fresh unique-key table — the keyed diff contract)
    val path2 = freshDir("versioned_cdf_slow")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path2)
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "v"), path2)
    Versioned.upsert(spark, path2, Seq((2L, "b9")).toDF("k", "v"), "k")
    val slow = Versioned.changes(spark, path2, 2L, 3L, "k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type")))
    assert(slow.toSeq == Seq((2L, "update")), s"rewrite feed wrong: ${slow.toSeq}")
  }

  test("commitClustered records per-file stats; readSkipping prunes at the manifest") {
    import spark.implicits._
    val path = freshDir("versioned_stats")
    val df = (1 to 400).map(i => (i.toLong, s"row$i", i * 0.5)).toDF("k", "v", "score")
    Versioned.commitClustered(df, path, "k", nFiles = 8, statsCols = Seq("k", "v"))
    val m = Versioned.manifest(path, 1L)
    assert(m.size > 1 && m.forall(_.stats.isDefined), "every clustered file needs stats")
    // a narrow range must touch a strict subset of files…
    val narrow = Versioned.readSkipping(spark, path, "k", 10L, 60L)
    assert(narrow.inputFiles.length < m.size,
      s"no files skipped: ${narrow.inputFiles.length} of ${m.size} read")
    // …and return exactly the filter's rows
    assert(narrow.collect().map(_.getLong(0)).sorted.toSeq == (10L to 60L))
    // string-column stats prune lexically ("row100".."row110" etc.)
    val strHit = Versioned.readSkipping(spark, path, "v", "row100", "row102")
    assert(strHit.collect().map(_.getString(1)).sorted.toSeq == Seq("row100", "row101", "row102"))
    // a fully-disjoint range reads NOTHING and returns an empty typed frame
    val none = Versioned.readSkipping(spark, path, "k", 100000L, 200000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v", "score"))
    // stats survive carry-by-reference: append more data, old files keep
    // their ranges and a query inside the old range skips the new file
    Versioned.appendCommit(Seq((1000L, "new", 1.0)).toDF("k", "v", "score"), path)
    val m2 = Versioned.manifest(path, 2L)
    assert(m2.count(_.stats.isDefined) == m.size, "carried entries lost their stats")
    val afterAppend = Versioned.readSkipping(spark, path, "k", 10L, 60L)
    assert(afterAppend.collect().map(_.getLong(0)).sorted.toSeq == (10L to 60L))
    // the stats-less appended file is never wrongly skipped
    assert(Versioned.readSkipping(spark, path, "k", 999L, 1001L)
      .collect().map(_.getLong(0)).toSeq == Seq(1000L))
    // a column with no recorded stats reads everything, still correct
    assert(Versioned.readSkipping(spark, path, "score", 0.5, 1.0)
      .count() == 3) // scores 0.5 (k=1), 1.0 (k=2), 1.0 (k=1000)
  }

  test("a merge-on-read delete window feeds from the deletion vector, not a snapshot diff") {
    import spark.implicits._
    val path = freshDir("versioned_cdf_mor")
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path)
    Versioned.deleteMergeOnRead(spark, path, Seq(1L, 3L, 99L).toDF("k"), "k") // 99: no such key
    val feed = Versioned.changes(spark, path, 1L, 2L, "k")
    val rows = feed.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"), r.getAs[String]("v")))
      .sortBy(_._1)
    // before-images of the deleted keys; the nonexistent key 99 feeds nothing
    assert(rows.toSeq == Seq((1L, "delete", "a"), (3L, "delete", "c")), s"MoR feed wrong: ${rows.toSeq}")
    val plan = feed.queryExecution.executedPlan.toString
    assert(!plan.contains("FullOuter"),
      s"MoR delete window must not pay the full-outer snapshot diff:\n$plan")
    // the positional vector is a scan-level filter: NO join of any kind
    assert(!plan.toLowerCase.contains("join"),
      s"DV feed must read positions, not join:\n$plan")
  }

  test("restore rolls back metadata-only: no data moves, history stays inspectable") {
    import spark.implicits._
    val path = freshDir("versioned_restore")
    Versioned.commit(Seq((1L, "good"), (2L, "good")).toDF("k", "v"), path)   // v1
    Versioned.upsert(spark, path, Seq((1L, "BAD")).toDF("k", "v"), "k")      // v2: the bad deploy
    val v3 = Versioned.restore(spark, path, 1L)
    assert(v3 == 3L)
    // content is v1's again…
    val cur = Versioned.read(spark, path).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur == Map(1L -> "good", 2L -> "good"))
    // …via v1's FILES, by reference — zero bytes copied
    assert(Versioned.manifest(path, 3L) == Versioned.manifest(path, 1L),
      "restore must republish the old manifest verbatim, not rewrite data")
    // the bad commit stays inspectable (forensics), and vacuum keeps v1's
    // dir because the current manifest references it
    assert(Versioned.readAt(spark, path, 2L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "BAD", 2L -> "good"))
    Versioned.vacuum(path, keepLast = 1)
    assert(Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == cur)
    // restoring the current version is a no-op; vacuumed history refuses
    assert(Versioned.restore(spark, path, 3L) == 3L)
    intercept[IllegalArgumentException](Versioned.restore(spark, path, 2L))
  }

  test("timestamp time travel resolves the snapshot a reader saw at that instant") {
    import spark.implicits._
    val path = freshDir("versioned_asof")
    Versioned.commit(Seq((1L, "v1")).toDF("k", "v"), path)
    Thread.sleep(60) // commit-marker mtimes must straddle the probe times
    val between = System.currentTimeMillis()
    Thread.sleep(60)
    Versioned.upsert(spark, path, Seq((1L, "v2")).toDF("k", "v"), "k")
    assert(Versioned.versionAsOf(path, between).contains(1L))
    assert(Versioned.readAsOf(spark, path, between)
      .collect().head.getString(1) == "v1", "readAsOf must see the pre-commit snapshot")
    assert(Versioned.readAsOf(spark, path, System.currentTimeMillis())
      .collect().head.getString(1) == "v2")
    // before the first commit: no snapshot existed — loud error
    val t0 = Versioned.commitTimes(path).head._2
    assert(Versioned.versionAsOf(path, t0 - 1000).isEmpty)
    intercept[IllegalArgumentException](Versioned.readAsOf(spark, path, t0 - 1000))
  }

  test("z-order clustering lets readSkipping prune on EITHER dimension") {
    import spark.implicits._
    val path = freshDir("versioned_zorder")
    // a 20x20 grid: a and b are independent — a single-column sort would
    // make the OTHER column's per-file ranges span everything
    val grid = (0 until 400).map(i => (i.toLong, (i % 20).toLong, (i / 20).toLong))
      .toDF("id", "a", "b")
    Versioned.commitZOrdered(grid, path, Seq("a", "b"), nFiles = 16)
    val m = Versioned.manifest(path, 1L)
    assert(m.size > 4 && m.forall(_.stats.isDefined))
    val onA = Versioned.readSkipping(spark, path, "a", 0L, 4L)
    val onB = Versioned.readSkipping(spark, path, "b", 0L, 4L)
    assert(onA.inputFiles.length < m.size, s"a-range skipped nothing (${onA.inputFiles.length}/${m.size})")
    assert(onB.inputFiles.length < m.size, s"b-range skipped nothing (${onB.inputFiles.length}/${m.size})")
    assert(onA.collect().map(_.getAs[Long]("a")).forall(_ <= 4L) && onA.count() == 100)
    assert(onB.collect().map(_.getAs[Long]("b")).forall(_ <= 4L) && onB.count() == 100)
    // guards: one column or a non-numeric column refuse up front
    intercept[IllegalArgumentException](
      Versioned.commitZOrdered(grid, freshDir("vz2"), Seq("a"), 4))
    intercept[IllegalArgumentException](
      Versioned.commitZOrdered(
        grid.withColumn("s", org.apache.spark.sql.functions.lit("x")),
        freshDir("vz3"), Seq("a", "s"), 4))
  }

  test("compactFiles keeps per-file stats through maintenance when asked") {
    import spark.implicits._
    val path = freshDir("versioned_stats_compact")
    val df = (1 to 300).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    Versioned.commitClustered(df, path, "k", nFiles = 6)
    Versioned.appendCommit(Seq((301L, "tail")).toDF("k", "v"), path)
    val vc = Versioned.compactFiles(spark, path, numFiles = Some(4), statsCols = Seq("k"))
    val m = Versioned.manifest(path, vc)
    assert(m.forall(_.stats.isDefined), "compaction dropped the per-file stats")
    val pruned = Versioned.readSkipping(spark, path, "k", 5L, 20L)
    assert(pruned.inputFiles.length < m.size, "compacted files lost their pruning ranges")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == (5L to 20L))
  }

  test("retryDerived re-derives after losing a claim race; every winner's rows survive") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_retry")
    Versioned.commit(Seq((0L, "base")).toDF("k", "v"), path)
    // without retry, most of these contending appends would throw; with
    // it, ALL must land (each body re-reads the new current on retry)
    val got = Await.result(Future.sequence((1 to 5).map { i =>
      Future(Versioned.retryDerived(maxAttempts = 20, backoffMs = 20L) {
        Versioned.appendCommit(Seq((i.toLong, s"w$i")).toDF("k", "v"), path)
      })
    }), 180.seconds)
    assert(got.distinct.size == 5, s"two retried appends shared a version: $got")
    assert(Versioned.read(spark, path).count() == 6,
      "a retried append's rows were lost — the retry republished a stale base")
    // exhausted attempts rethrow the conflict instead of spinning (the
    // staged claim never publishes, so every attempt's rebase times out)
    val blocked = freshDir("versioned_retry_blocked")
    Versioned.commit(Seq((1L, "a")).toDF("k", "v"), blocked)
    Files.createDirectories(Paths.get(blocked, "v00002"))
    Files.createFile(Paths.get(blocked, "v00002", "_claim"))
    withShortInflightWait {
      intercept[java.util.ConcurrentModificationException](
        Versioned.retryDerived(maxAttempts = 2, backoffMs = 1L) {
          Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), blocked)
        })
    }
  }

  test("per-file vacuum reclaims superseded files inside still-referenced dirs") {
    import spark.implicits._
    val path = freshDir("versioned_filegc")
    Versioned.commitPartitioned(
      Seq((1L, "a", "P1"), (2L, "b", "P2"), (3L, "c", "P3")).toDF("k", "v", "pt"), path, "pt")
    Versioned.upsertPartitioned(spark, path, Seq((2L, "b2", "P2")).toDF("k", "v", "pt"), "k", "pt")
    // v2 references v1's P1+P3 files; v1's P2 file is superseded garbage
    val supersededGone = {
      val v1files = Versioned.manifest(path, 1L).filter(_.partDir == "pt=P2").map(_.relPath)
      Versioned.vacuum(path, keepLast = 1) // 0 whole dirs (v1 referenced)…
      v1files.forall(f => !Files.exists(Paths.get(path, f)))
    }
    assert(supersededGone, "superseded P2 file inside referenced v1 was not reclaimed")
    // every retained read is bit-identical
    val cur = Versioned.read(spark, path).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(cur == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // v1's own snapshot is honestly gone: loud error, hidden from versions()
    assert(Versioned.versions(path) == Seq(2L))
    intercept[IllegalArgumentException](Versioned.readAt(spark, path, 1L))
    // a tombstoned dir is not recoverClaims' prey (its claim was removed)
    assert(Versioned.recoverClaims(path, olderThanMs = 0L) == Nil)
    assert(Versioned.read(spark, path).count() == 3, "GC'd dir lost live files to recovery")
    // once a full rewrite drops the last references, the tombstoned dir goes
    Versioned.upsert(spark, path, Seq((1L, "a9", "P1")).toDF("k", "v", "pt"), "k")
    assert(Versioned.vacuum(path, keepLast = 1) == 2, "v1 (gc'd) + v2 should be reclaimed")
    assert(!Files.exists(Paths.get(path, "v00001")) && !Files.exists(Paths.get(path, "v00002")))
    assert(Versioned.read(spark, path).count() == 3)
  }

  test("file skipping compares numeric bounds exactly — no double rounding above 2^53") {
    import spark.implicits._
    val path = freshDir("versioned_stats_exact")
    // one file whose Long min=max is exactly 2^53: the next FOUR Longs
    // all collapse back onto 2^53 (or 2^53+2) after a double round-trip,
    // so a double comparison cannot tell [2^53+1, 2^53+3] apart from a
    // range touching the file
    val a = 9007199254740992L // 2^53
    Versioned.commitClustered(Seq(Tuple1(a)).toDF("k"), path, "k",
      nFiles = 1, statsCols = Seq("k"))
    // probe strictly ABOVE the file's max: exact arithmetic skips it;
    // d(2^53+1) == d(2^53) would keep it
    val above = Versioned.readSkipping(spark, path, "k", a + 1L, a + 3L)
    assert(above.inputFiles.isEmpty,
      s"bounds compared with double precision: read ${above.inputFiles.length} files")
    assert(above.count() == 0)
    // and the exact hit still reads the file
    val hit = Versioned.readSkipping(spark, path, "k", a, a)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(a))
  }

  test("string stats prune in UTF-8 byte order, matching Spark's min/max ordering") {
    import spark.implicits._
    val path = freshDir("versioned_stats_utf8")
    // U+1F600 sorts ABOVE U+E000 in UTF-8 bytes (F0… > EE…) — Spark's
    // min/max order — but BELOW it in Java's UTF-16 code-unit order
    // (surrogate D83D < E000). A code-unit comparison would wrongly
    // skip this file for any probe range above U+E000.
    val emoji = "😀" // U+1F600
    Versioned.commitClustered(Seq(Tuple1(emoji)).toDF("v"), path, "v",
      nFiles = 1, statsCols = Seq("v"))
    val hit = Versioned.readSkipping(spark, path, "v", "", "🤓")
    assert(hit.count() == 1,
      "file wrongly skipped: string bounds compared in UTF-16 order, not UTF-8")
    // a range that truly ends below the file still skips it
    val miss = Versioned.readSkipping(spark, path, "v", "", "")
    assert(miss.inputFiles.isEmpty && miss.count() == 0)
  }

  test("compactFiles is a no-op on a legitimately empty snapshot") {
    import spark.implicits._
    val path = freshDir("versioned_compact_empty")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    Versioned.delete(spark, path, Seq(1L, 2L).toDF("k"), "k") // v2: empty snapshot
    assert(Versioned.read(spark, path).count() == 0)
    // a scheduled maintenance loop must not mint a new version per run
    assert(Versioned.compactFiles(spark, path) == 2L)
    assert(Versioned.compactFiles(spark, path, numFiles = Some(4)) == 2L)
    assert(Versioned.currentVersion(path).contains(2L),
      "compacting an empty table published fresh empty versions")
  }

  test("replay detection survives when the only record lives in a file-GC'd dir's meta") {
    import spark.implicits._
    val path = freshDir("versioned_once_gc")
    val v1 = Versioned.appendCommitOnce(Seq((1L, "a")).toDF("k", "v"), path, "batch-1")
    Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), path) // v2: plain — carries NO index
    // simulate per-file GC tombstoning v1 (what vacuum does when some of
    // a dir's files are superseded): the dir's own snapshot becomes
    // unreadable, its claim is removed, but _meta survives
    Files.createFile(Paths.get(path, "v00001", "_gc"))
    Files.deleteIfExists(Paths.get(path, "v00001", "_claim"))
    assert(Versioned.versions(path) == Seq(2L), "tombstoned v1 should be hidden")
    // the latest commit lacks the index → fallback walk; it must still
    // see batch-1 (recorded only in tombstoned v1's meta) or the replay
    // double-commits
    val replayed = Versioned.appendCommitOnce(Seq((1L, "a")).toDF("k", "v"), path, "batch-1")
    assert(replayed == v1, s"replayed batch re-committed as v$replayed")
    assert(Versioned.currentVersion(path).contains(2L))
  }

  test("append commits write O(delta) metadata; chains fold into periodic checkpoints") {
    import spark.implicits._
    val path = freshDir("versioned_ckpt")
    val n = 25
    for (i <- 1 to n)
      Versioned.appendCommit(Seq((i.toLong, s"row$i")).toDF("k", "v").coalesce(1), path)
    // storage shape: v1 is a checkpoint (no base), v21 folds the 20-deep
    // chain into the next checkpoint, everything else is a delta
    def manifestF(v: Int) = Paths.get(path, f"v$v%05d", "_manifest")
    def deltaF(v: Int) = Paths.get(path, f"v$v%05d", "_delta")
    val checkpoints = (1 to n).filter(v => Files.exists(manifestF(v)))
    assert(checkpoints == Seq(1, 21),
      s"expected checkpoints at v1 and v21 with CheckpointEvery=20, got $checkpoints")
    for (v <- (1 to n).filterNot(checkpoints.contains)) {
      assert(Files.exists(deltaF(v)) && !Files.exists(manifestF(v)))
      // the bound the whole feature exists for: per-commit metadata is
      // proportional to the COMMIT (here: base pointer + one added file),
      // not to the snapshot
      val lines = new String(Files.readAllBytes(deltaF(v)), "UTF-8").split("\n")
      assert(lines.length == 2,
        s"v$v delta should carry exactly base+1 lines, got ${lines.length}")
      assert(Files.size(deltaF(v)) < Files.size(manifestF(21)),
        s"v$v delta is not smaller than a full checkpoint")
    }
    // resolution is storage-independent: every version reads the full
    // prefix, whether it resolves from a checkpoint or a delta chain
    assert(Versioned.manifest(path, n.toLong).size == n)
    for (v <- Seq(1, 10, 20, 21, 25))
      assert(Versioned.readAt(spark, path, v.toLong).count() == v,
        s"v$v resolution lost rows")
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to n.toLong))
    // a checkpoint resolves to the SAME sequence the delta chain held:
    // v21's full manifest must extend v20's resolved entries
    assert(Versioned.manifest(path, 21L).take(20) == Versioned.manifest(path, 20L))
  }

  test("vacuum materializes a surviving delta into a checkpoint before deleting its chain link") {
    import spark.implicits._
    val path = freshDir("versioned_ckpt_vacuum")
    Versioned.commitPartitioned(
      Seq((1L, "a", "P1"), (2L, "b0", "P2")).toDF("k", "v", "pt"), path, "pt") // v1 checkpoint
    for (i <- 1 to 3) // v2..v4: delta commits, each superseding P2 again
      Versioned.upsertPartitioned(spark, path, Seq((2L, s"b$i", "P2")).toDF("k", "v", "pt"), "k", "pt")
    assert(!Files.exists(Paths.get(path, "v00003", "_manifest")),
      "upsertPartitioned should commit deltas")
    // v2's files are superseded garbage (only v3/v4 retained) → its dir is
    // doomed — but v3's delta chain resolves THROUGH v2's metadata
    Versioned.vacuum(path, keepLast = 2)
    assert(!Files.exists(Paths.get(path, "v00002")), "v2 should be whole-dir reclaimed")
    // repair: v3 became a checkpoint (so the chain never touches v2);
    // v4's one-hop chain to v3 stays a delta
    assert(Files.exists(Paths.get(path, "v00003", "_manifest")) &&
      !Files.exists(Paths.get(path, "v00003", "_delta")),
      "v3 was not materialized into a checkpoint")
    assert(Files.exists(Paths.get(path, "v00004", "_delta")))
    // every retained read still resolves, bit-identical content
    assert(Versioned.readAt(spark, path, 3L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "a", 2L -> "b2"))
    assert(Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "a", 2L -> "b3"))
  }

  test("delta storage serves MoR deletes, CDF windows and compaction unchanged") {
    import spark.implicits._
    val path = freshDir("versioned_ckpt_mixed")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)            // v1 checkpoint
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "v"), path)                 // v2 delta
    Versioned.deleteMergeOnRead(spark, path, Seq(1L).toDF("k"), "k")            // v3 delta (MoR)
    assert(Files.exists(Paths.get(path, "v00003", "_delta")))
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // CDF append fast path across a delta commit
    val ins = Versioned.changes(spark, path, 1L, 2L, "k").collect()
    assert(ins.map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).toSeq ==
      Seq((3L, "insert")))
    // CDF MoR window across a delta commit
    val dels = Versioned.changes(spark, path, 2L, 3L, "k").collect()
    assert(dels.map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).toSeq ==
      Seq((1L, "delete")))
    // compaction folds the debt into a checkpoint rewrite
    val vc = Versioned.compactDeletes(spark, path)
    assert(Files.exists(Paths.get(path, f"v$vc%05d", "_manifest")))
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("renameColumn is metadata-only: old files read under the new name via stable ids") {
    import spark.implicits._
    val path = freshDir("versioned_rename")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)      // v1
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "v"), path)           // v2
    val before = Versioned.manifest(path, 2L)
    val vr = Versioned.renameColumn(path, "v", "label")                   // v3: metadata only
    assert(vr == 3L)
    // not one data file moved, added, or removed
    assert(Versioned.manifest(path, 3L) == before, "rename touched the manifest's files")
    assert(!Files.exists(Paths.get(path, "v00003", "data")), "rename wrote data files")
    // the current snapshot presents the new name, all rows intact
    val cur = Versioned.read(spark, path)
    assert(cur.columns.toSeq == Seq("k", "label"))
    assert(cur.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // time travel below the rename still reads the name THAT snapshot had
    assert(Versioned.readAt(spark, path, 2L).columns.toSeq == Seq("k", "v"))
    // appends after the rename mix freely with pre-rename files
    Versioned.appendCommit(Seq((4L, "d")).toDF("k", "label"), path)
    assert(Versioned.read(spark, path)
      .filter(org.apache.spark.sql.functions.col("label") === "d").count() == 1)
    assert(Versioned.read(spark, path).count() == 4)
    // a rewrite (compaction) folds the rename into the files themselves
    Versioned.compactFiles(spark, path, numFiles = Some(1))
    val folded = Versioned.read(spark, path)
    assert(folded.columns.toSeq == Seq("k", "label") && folded.count() == 4)
  }

  test("addColumn is metadata-only: pre-addition files read the new column as NULL") {
    import spark.implicits._
    val path = freshDir("versioned_addcol")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)      // v1
    val before = Versioned.manifest(path, 1L)
    val va = Versioned.addColumn(path, "score", org.apache.spark.sql.types.DoubleType) // v2
    assert(va == 2L)
    assert(Versioned.manifest(path, 2L) == before, "addColumn touched the manifest's files")
    val cur = Versioned.read(spark, path)
    assert(cur.columns.toSeq == Seq("k", "v", "score"))
    assert(cur.filter(org.apache.spark.sql.functions.col("score").isNull).count() == 2L)
    // time travel below the addition presents the pre-addition schema
    assert(Versioned.readAt(spark, path, 1L).columns.toSeq == Seq("k", "v"))
    // appends after the addition carry the column; old files stay NULL
    Versioned.appendCommit(Seq((3L, "c", 0.5)).toDF("k", "v", "score"), path)
    val got = Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> Some(0.5)))
    intercept[IllegalArgumentException](
      Versioned.addColumn(path, "V", org.apache.spark.sql.types.LongType)) // case-clash refused
  }

  test("dropColumn is metadata-only; CDF across a rename flags schema_change; guards hold") {
    import spark.implicits._
    val path = freshDir("versioned_drop")
    Versioned.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w"), path) // v1
    Versioned.dropColumn(path, "w")                                                  // v2
    assert(Versioned.read(spark, path).columns.toSeq == Seq("k", "v"))
    assert(Versioned.readAt(spark, path, 1L).columns.toSeq == Seq("k", "v", "w"))
    assert(!Files.exists(Paths.get(path, "v00002", "data")))
    // a fresh append does NOT resurrect the dropped column for old rows
    Versioned.appendCommit(Seq((3L, "c")).toDF("k", "v"), path)                      // v3
    assert(Versioned.read(spark, path).columns.toSeq == Seq("k", "v"))
    // CDF across a rename keeps the NULL-fill schema_change contract
    Versioned.renameColumn(path, "v", "txt")                                         // v4
    Versioned.appendCommit(Seq((4L, "d")).toDF("k", "txt"), path)                    // v5
    val feed = Versioned.changes(spark, path, 3L, 5L, "k")
    assert(feed.columns.contains("schema_change"))
    assert(feed.collect().forall(_.getAs[Boolean]("schema_change")),
      "a feed window crossing a rename must flag schema_change")
    // guards: partition columns, last column, MoR debt
    intercept[IllegalArgumentException](Versioned.dropColumn(path, "nope"))
    val ptbl = freshDir("versioned_rename_part")
    Versioned.commitPartitioned(Seq((1L, "x", "P1")).toDF("k", "v", "pt"), ptbl, "pt")
    intercept[IllegalArgumentException](Versioned.renameColumn(ptbl, "pt", "part"))
    intercept[IllegalArgumentException](Versioned.dropColumn(ptbl, "pt"))
    val single = freshDir("versioned_drop_last")
    Versioned.commit(Seq(Tuple1(1L)).toDF("k"), single)
    intercept[IllegalArgumentException](Versioned.dropColumn(single, "k"))
    // positional DVs survive schema evolution (they name files and row
    // positions, not columns): rename over DV debt is allowed and the
    // deleted row stays deleted under the new name
    val mor = freshDir("versioned_rename_mor")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), mor)
    Versioned.deleteMergeOnRead(spark, mor, Seq(1L).toDF("k"), "k")
    Versioned.renameColumn(mor, "v", "w")
    val morRows = Versioned.read(spark, mor).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("w")).toMap
    assert(morRows == Map(2L -> "b"), s"rename over DV debt broke the read: $morRows")
  }

  test("optimize-on-write keeps a 50-append loop under the file budget, forever") {
    import spark.implicits._
    val path = freshDir("versioned_autocompact")
    val maxFiles = 8
    for (i <- 1 to 50) {
      Versioned.appendCommitCompacting(
        Seq((i.toLong, s"row$i")).toDF("k", "v").coalesce(1), path, maxFiles = maxFiles)
      // THE policy invariant: no commit ever leaves the snapshot over
      // budget — the maintenance fold is part of the write, not a
      // separate human-driven job
      val size = Versioned.manifest(path, Versioned.currentVersion(path).get).size
      assert(size <= maxFiles, s"after append $i the snapshot holds $size files")
    }
    // the data survived every fold
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 50L))
    // compactions really ran (version count exceeds the 50 appends)…
    assert(Versioned.currentVersion(path).get > 50L)
    // …and a compacted unpartitioned snapshot still reads as ONE scan
    val plan = Versioned.read(spark, path).queryExecution.executedPlan.toString
    assert(plan.split("FileScan").length - 1 == 1,
      s"compacted history should plan a single scan:\n$plan")
    // within budget → maintenance is a no-op, not a rewrite
    val before = Versioned.currentVersion(path).get
    assert(Versioned.maintainIfNeeded(spark, path, maxFiles).isEmpty)
    assert(Versioned.currentVersion(path).contains(before))
  }

  test("partition-disjoint concurrent merges both land WITHOUT a retry loop") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_disjoint")
    Versioned.commitPartitioned(
      Seq((1L, "a0", "P1"), (2L, "b0", "P2"), (3L, "c0", "P3")).toDF("k", "v", "pt"),
      path, "pt")
    // deliberately NO retryDerived: disjointness itself must let both
    // land — the loser of the physical claim race waits for the rival's
    // publish, proves the partitions are disjoint, and rebases
    val got = Await.result(Future.sequence(Seq(
      Future(Versioned.upsertPartitioned(spark, path,
        Seq((1L, "a1", "P1")).toDF("k", "v", "pt"), "k", "pt")),
      Future(Versioned.upsertPartitioned(spark, path,
        Seq((3L, "c1", "P3")).toDF("k", "v", "pt"), "k", "pt")),
    )), 180.seconds)
    assert(got.sorted == Seq(2L, 3L), s"expected both merges to land as v2+v3, got $got")
    assert(Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a1", 2L -> "b0", 3L -> "c1"),
      "a rebased merge dropped the rival's update — lost update through rebase")
  }

  test("concurrent partitioned appends both land by rebase — even on the SAME partition") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_partapp_race")
    Versioned.commitPartitioned(
      Seq((1L, 10L, "P1"), (2L, 20L, "P2")).toDF("k", "v", "pt"), path, "pt")
    // pure adds commute regardless of which partitions they touch — the
    // claim loser rebases over the rival's published add, no retry loop
    val got = Await.result(Future.sequence(Seq(
      Future(Versioned.appendCommitPartitioned(
        Seq((3L, 30L, "P1")).toDF("k", "v", "pt"), path)),
      Future(Versioned.appendCommitPartitioned(
        Seq((4L, 40L, "P1")).toDF("k", "v", "pt"), path)),
    )), 180.seconds)
    assert(got.sorted == Seq(2L, 3L), s"expected both appends to land as v2+v3, got $got")
    assert(Versioned.read(spark, path).as[(Long, Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 10L, "P1"), (2L, 20L, "P2"), (3L, 30L, "P1"), (4L, 40L, "P1")),
      "a rebased partitioned append lost the rival's rows")
    // both P1 files are in the final manifest with their fragments
    val p1 = Versioned.manifest(path, 3L).filter(_.partDir == "pt=P1")
    assert(p1.size >= 3, s"P1 must hold the bootstrap + both appended files: $p1")
  }

  test("overlapping concurrent merges still conflict; rewrites are never rebased over") {
    import spark.implicits._
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_overlap")
    Versioned.commitPartitioned(
      Seq((1L, "a0", "P1"), (2L, "b0", "P2")).toDF("k", "v", "pt"), path, "pt")
    // force the race deterministically: hold the v2 claim as an
    // in-flight rival, start a SAME-partition merge (it derives from v1
    // and must wait on us), then publish a P1-touching delta as v2 —
    // the waiter must refuse to rebase
    Files.createDirectories(Paths.get(path, "v00002"))
    Files.createFile(Paths.get(path, "v00002", "_claim"))
    val waiter = Future(blocking {
      try Left(Versioned.upsertPartitioned(spark, path,
        Seq((1L, "mine", "P1")).toDF("k", "v", "pt"), "k", "pt"))
      catch { case e: java.util.ConcurrentModificationException => Right(e.getMessage) }
    })
    Thread.sleep(500) // let the waiter lose the claim and enter its wait
    // rival publishes v2 touching P1 (hand-built delta: remove P1's old
    // file, no adds — a legal prune of the partition)
    val p1rel = Versioned.manifest(path, 1L).filter(_.partDir == "pt=P1").map(_.relPath)
    Files.write(Paths.get(path, "v00002", "_delta"),
      (s"base\t1" +: p1rel.map(r => s"remove\tpt=P1\t$r")).mkString("\n").getBytes("UTF-8"))
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pt", org.apache.spark.sql.types.StringType))).json
    Files.write(Paths.get(path, "v00002", "_meta"), s"graft.schema\t$schemaJson".getBytes("UTF-8"))
    Files.createFile(Paths.get(path, "v00002", "_committed"))
    val out = Await.result(waiter, 180.seconds)
    assert(out.isRight, s"overlapping merge was rebased over a P1-touching rival: $out")
    assert(out.exists(_.contains("pt=P1")), s"conflict should name the partition: $out")
    // and the table is exactly what the rival left (P1 pruned, P2 intact)
    assert(Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(2L -> "b0"))
  }

  test("appendCommitPartitioned enforces the committed layout and refuses partition statsCols") {
    import spark.implicits._
    val path = freshDir("versioned_partapp")
    Versioned.commitPartitioned(Seq((1L, 10L, "P1")).toDF("k", "v", "pt"), path, "pt")
    Versioned.appendCommitPartitioned(Seq((2L, 20L, "P2")).toDF("k", "v", "pt"), path,
      statsCols = Seq("v"))
    // the appended file carries its fragment AND its data-column stats
    val m = Versioned.manifest(path, 2L)
    val fresh = m.filter(_.relPath.startsWith("v00002"))
    assert(fresh.nonEmpty && fresh.forall(e => e.partDir == "pt=P2" && e.stats.nonEmpty))
    // partition-scoped MERGE still sees appended files (copy-on-write grouping)
    Versioned.upsertPartitioned(spark, path, Seq((2L, 21L, "P2")).toDF("k", "v", "pt"), "k", "pt")
    assert(Versioned.read(spark, path).as[(Long, Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 10L, "P1"), (2L, 21L, "P2")))
    // guards: unpartitioned table, missing layout column, partition statsCols
    val flat = freshDir("versioned_partapp_flat")
    Versioned.commit(Seq((1L, 1L)).toDF("k", "v"), flat)
    intercept[IllegalArgumentException](
      Versioned.appendCommitPartitioned(Seq((2L, 2L)).toDF("k", "v"), flat))
    intercept[IllegalArgumentException](
      Versioned.appendCommitPartitioned(Seq((3L, 30L)).toDF("k", "v"), path))
    intercept[IllegalArgumentException](
      Versioned.appendCommitPartitioned(Seq((3L, 30L, "P3")).toDF("k", "v", "pt"), path,
        statsCols = Seq("pt")))
  }

  test("history classifies every operation shape from the manifest deltas alone") {
    import spark.implicits._
    val path = freshDir("versioned_history")
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path) // v1
    Versioned.appendCommitOnce(Seq((4L, "d")).toDF("k", "v"), path, "feed-9") // v2
    Versioned.upsert(spark, path, Seq((2L, "B")).toDF("k", "v"), "k") // v3
    Versioned.deleteMergeOnRead(spark, path, Seq(1L).toDF("k"), "k") // v4
    Versioned.compactDeletes(spark, path) // v5
    Versioned.renameColumn(path, "v", "val") // v6
    Versioned.restore(spark, path, 5L) // v7: manifest carried by reference

    val h = Versioned.history(spark, path).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq == (1L to 7L))
    assert(h.map(_.getString(2)).toSeq ==
      Seq("commit", "append", "rewrite", "delete", "rewrite", "metadata", "metadata"),
      s"misclassified: ${h.map(_.getString(2)).toSeq}")
    // append: adds without removals, carrying its batch id
    assert(h(1).getLong(3) >= 1 && h(1).getLong(4) == 0 && h(1).getString(7) == "feed-9")
    // MoR delete: the only added entry is the delete-key file
    assert(h(3).getLong(3) == 1 && h(3).getLong(4) == 0)
    // metadata-only commits move nothing
    assert(h(5).getLong(3) == 0 && h(5).getLong(4) == 0)
    assert(h(6).getLong(3) == 0 && h(6).getLong(4) == 0)
    // schema change rides the rename — and the restore, which republishes
    // the RESTORED version's pre-rename schema (crossing the rename back)
    assert(h.map(r => r.getBoolean(6)).toSeq ==
      Seq(false, false, false, false, false, true, true))
    // commit instants are monotone; the first commits are full checkpoints,
    // hot-path derived commits are delta links
    val ts = h.map(_.getTimestamp(1).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
    assert(h(0).getBoolean(8), "v1 must be a full-manifest checkpoint")
    assert(!h(1).getBoolean(8), "a hot-path append must be a delta link")
  }

  test("LockProvider seam: exactly-once commits under the non-atomic-create conditional-put provider") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = freshDir("versioned_condput_race")
    Versioned.withLockProvider(ConditionalPutLock) {
      // 6-way replace-all race: marker creation is overwrite=true (two
      // racers would BOTH "succeed" at the file layer) — mutual
      // exclusion must come entirely from the conditional-put table
      val futures = (1 to 6).map { i =>
        Future(Versioned.commit(Seq((i.toLong, s"w$i")).toDF("k", "v"), path))
      }
      val got = Await.result(Future.sequence(futures), 120.seconds)
      assert(got.toSet.size == 6, s"two writers shared a version under ConditionalPutLock: $got")
      assert(Versioned.versions(path).size == 6)
      got.foreach(v => assert(Versioned.readAt(spark, path, v).count() == 1))
      // 4-way same-schema append race: every appended row must survive
      // (rebase, not lost-update) with the provider arbitrating claims
      val appends = (10 to 13).map { i =>
        Future(Versioned.appendCommit(Seq((i.toLong, s"a$i")).toDF("k", "v"), path))
      }
      Await.result(Future.sequence(appends), 120.seconds)
      val keys = Versioned.read(spark, path).select("k").collect().map(_.getLong(0)).toSet
      assert((10L to 13L).forall(keys.contains), s"an append was lost under ConditionalPutLock: $keys")
    }
  }

  test("ConditionalPutLock's CAS table is transient: no entry leaks per committed version") {
    import spark.implicits._
    val path = freshDir("versioned_condput_leak")
    Versioned.withLockProvider(ConditionalPutLock) {
      Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)
      (0 until 4).foreach(i =>
        Versioned.appendCommit(Seq((10L + i, "x")).toDF("k", "v"), path))
    }
    // a long-running writer (streaming micro-batch per second) must not
    // grow the JVM-wide table by one entry per committed version
    assert(ConditionalPutLock.pendingClaims == 0,
      "every acquire must drop its CAS entry once the durable marker exists")
  }

  test("LockProvider seam: a crashed writer's durable marker blocks acquisition until recovery") {
    import spark.implicits._
    val path = freshDir("versioned_condput_crash")
    Versioned.withLockProvider(ConditionalPutLock) {
      Versioned.commit(Seq((1L, "a")).toDF("k", "v"), path)
      // crashed PREVIOUS process: the durable _claim marker exists but
      // the store-side table (process-scoped) has no entry for it
      val v2dir = Paths.get(path, "v00002")
      Files.createDirectories(v2dir)
      Files.createFile(v2dir.resolve("_claim"))
      // a derived commit must refuse the slot (conditional PUT sees the object)
      withShortInflightWait {
        intercept[java.util.ConcurrentModificationException](
          Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), path))
      }
      // age-gated recovery arbitrates through the provider, then the slot is free
      assert(Versioned.recoverClaims(path, olderThanMs = 0L) == Seq(2L))
      assert(Versioned.appendCommit(Seq((2L, "b")).toDF("k", "v"), path) == 2L)
      assert(Versioned.read(spark, path).count() == 2)
    }
  }

  test("deletion vectors: heavy delete debt reads with NO join node; runs merge across commits") {
    import spark.implicits._
    val path = freshDir("versioned_dv_heavy")
    // 3 files, 3000 rows
    Versioned.commit((1L to 3000L).map(i => (i, s"r$i")).toDF("k", "v").repartition(3), path)
    // five independent DV delete commits, overlapping and clustered
    Versioned.deleteMergeOnRead(spark, path, (1L to 500L).toDF("k"), "k")       // v2
    Versioned.deleteMergeOnRead(spark, path, (400L to 900L).toDF("k"), "k")     // v3 (overlaps v2)
    Versioned.deleteMergeOnRead(spark, path, Seq(2999L, 3000L).toDF("k"), "k")  // v4
    Versioned.deleteMergeOnRead(spark, path, (1000L to 1010L).toDF("k"), "k")   // v5
    Versioned.deleteMergeOnRead(spark, path, Seq(901L).toDF("k"), "k")          // v6
    val df = Versioned.read(spark, path)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"five outstanding DV commits must still read join-free:\n$plan")
    assert(plan.contains("graft_dv_contains"), s"the DV filter must be in the plan:\n$plan")
    val kept = df.collect().map(_.getLong(0)).toSet
    val expected = (1L to 3000L).toSet -- (1L to 900L) -- Set(2999L, 3000L) -- (1000L to 1010L) - 901L
    assert(kept == expected, s"DV read dropped/kept the wrong rows (${kept.size} vs ${expected.size})")
    // a DV re-delete of an already-deleted key is a no-op for the feed:
    // positions were discovered against the MATERIALIZED snapshot
    val feed = Versioned.changes(spark, path, 5L, 6L, "k").collect()
    assert(feed.map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).toSeq ==
      Seq((901L, "delete")), "the v6 window must feed exactly its own deletion")
    // compaction folds all five vectors; content identical
    Versioned.compactDeletes(spark, path)
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).toSet == expected)
  }

  test("legacy keyed delete files still read: anti-join sequencing preserved for pre-DV tables") {
    import spark.implicits._
    val path = freshDir("versioned_dv_legacy")
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    Versioned.deleteMergeOnReadKeys(spark, path, Seq(1L).toDF("k"), "k") // legacy format
    assert(Versioned.manifest(path, 2L).exists(_.kind == Versioned.KindDelete))
    assert(Versioned.read(spark, path).collect().map(_.getLong(0)).toSeq == Seq(2L))
    // sequencing: a later append may reuse the key
    Versioned.appendCommit(Seq((1L, "reborn")).toDF("k", "v"), path)
    val rows = Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "reborn", 2L -> "b"))
    // a NEW positional delete stacks on top of legacy key debt
    Versioned.deleteMergeOnRead(spark, path, Seq(2L).toDF("k"), "k")
    assert(Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "reborn"))
    Versioned.compactDeletes(spark, path)
    assert(Versioned.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "reborn"))
  }

  test("DV position discovery is stats-pruned: a narrow delete scans only overlapping files") {
    import spark.implicits._
    val path = freshDir("versioned_dv_pruned")
    // 10 key-clustered files with per-file min/max recorded
    Versioned.commitClustered((1L to 10000L).map(i => (i, s"r$i")).toDF("k", "v"),
      path, clusterCol = "k", nFiles = 10)
    // a retraction touching one narrow key range
    Versioned.deleteMergeOnRead(spark, path, (2000L to 2050L).toDF("k"), "k")
    val (scanned, total) = Versioned.lastDvDiscovery(path).get
    assert(total == 10 && scanned < 10 && scanned >= 1,
      s"discovery must scan only stats-overlapping files ($scanned of $total)")
    val kept = Versioned.read(spark, path).count()
    assert(kept == 10000L - 51L, s"wrong row count after pruned-discovery delete: $kept")
  }

  test("incremental clustering: an append loop keeps pruning effectiveness, clean files by reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = freshDir("versioned_incr_cluster")
    // bootstrap: 8 range-disjoint files on k, stats recorded
    Versioned.commitClustered((1L to 8000L).map(i => (i, s"r$i")).toDF("k", "v"),
      path, clusterCol = "k", nFiles = 8)
    val cleanV1 = Versioned.manifest(path, 1L).toSet
    // within budget: maintenance is a no-op, no version published
    assert(Versioned.maintainClusteredIfNeeded(spark, path, "k", maxStragglers = 4).isEmpty)
    // an append-heavy loop lands 6 unclustered FULL-RANGE batches (each
    // file spans the whole key domain — the shape that defeats pruning;
    // the second row sits above every clustered file's max so the
    // straggler set is boundary-jitter-independent)
    for (i <- 1 to 6)
      Versioned.appendCommit(
        Seq((i * 1000L + 100L, "x"), (8000L + i, "y")).toDF("k", "v").coalesce(1),
        path, statsCols = Seq("k"))
    // over budget now → ONE incremental fold
    val folded = Versioned.maintainClusteredIfNeeded(spark, path, "k", maxStragglers = 4,
      targetFiles = 2)
    assert(folded.nonEmpty, "6 full-range stragglers must trigger maintenance")
    val m = Versioned.manifest(path, folded.get)
    // every original clean file carried BY REFERENCE — no full rewrite
    assert(cleanV1.subsetOf(m.toSet),
      "incremental maintenance must not rewrite the clean clustered files")
    // the stragglers are gone, replaced by <= targetFiles fresh files
    assert(m.size <= cleanV1.size + 2, s"straggler fold left ${m.size} files")
    // pruning effectiveness restored: a narrow probe reads few files
    val probe = Versioned.readSkipping(spark, path, "k", 3500L, 3600L)
    val probeFiles = probe.inputFiles.length
    assert(probeFiles <= 3,
      s"narrow probe should read O(1) files after maintenance, read $probeFiles")
    assert(probe.count() == 101L) // 3500..3600 inclusive; no appended key lands in the window
    // content check without off-by-hand arithmetic: full table intact
    val total = Versioned.read(spark, path).count()
    assert(total == 8000L + 12L, s"maintenance lost rows: $total")
  }

  test("two-table CDF pair: a crash between the delete and append commits recovers non-divergent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = freshDir("versioned_pair_src")
    val dst = freshDir("versioned_pair_dst")
    // source history: v1 bootstrap, v2 = a MERGE (update k=2, insert k=4)
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), src)
    Versioned.upsert(spark, src, Seq((2L, "b2"), (4L, "d")).toDF("k", "v"), "k")

    // the t11 consumer idiom: the applied-source-version WATERMARK rides
    // the FINAL commit of each feed's delete+append pair, atomically in
    // that commit's _meta — there is no cross-table transaction, and
    // this spec proves none is needed
    // the recovery rule: the watermark is the LATEST commit that
    // carries one — a crash can leave watermark-less commits (the
    // pair's first half) on top, and they must not regress it
    def lastApplied: Long = Versioned.versions(dst).reverse.iterator
      .flatMap(v => Versioned.commitMeta(dst, v).get("applied")).map(_.toLong)
      .nextOption().getOrElse(0L)
    def applyFeed(v: Long, crashBetweenPair: Boolean): Unit = {
      val applied = Map("applied" -> v.toString)
      if (v == 1L) { Versioned.commit(Versioned.readAt(spark, src, 1L), dst, applied); return }
      val feed = Versioned.changes(spark, src, v - 1, v, "k")
      val ups = feed.filter(col("change_type") =!= "delete").select("k", "v")
      val gone = feed.filter(col("change_type") =!= "insert").select("k")
      if (gone.count() > 0) Versioned.deleteMergeOnRead(spark, dst, gone, "k")
      if (crashBetweenPair) return // CRASH: delete landed, append + watermark did not
      Versioned.appendCommit(ups, dst, applied): Unit
    }
    def consume(crash: Boolean = false): Unit =
      for (v <- Versioned.versions(src) if v > lastApplied)
        applyFeed(v, crash && v == 2L)

    consume(crash = true) // v1 applied; v2's delete committed, then "crash"
    // the watermark still reads v1: the half-applied feed is invisible to
    // recovery bookkeeping, the view is merely missing rows it will re-land
    assert(lastApplied == 1L)
    consume() // recovery: re-applies feed v2 from the start
    // re-running the delete found nothing left to delete (positions are
    // discovered against the materialized view) and the append landed
    // exactly once: the view CONVERGES to the source snapshot
    val got = Versioned.read(spark, dst).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"),
      s"view diverged after crash-recovery: $got")
    assert(lastApplied == 2L)
    // and a further replay is a no-op (exactly-once bookkeeping intact)
    val nv = Versioned.versions(dst).size
    consume()
    assert(Versioned.versions(dst).size == nv, "replay after recovery must commit nothing")
  }

  test("commitTxn: view+watermark land atomically; both shapes (replace/append) version correctly") {
    import spark.implicits._
    val view = freshDir("txn_view")
    val wm = freshDir("txn_wm")
    val got = Versioned.commitTxn(Seq(
      Versioned.TxnWrite(view, Seq((1L, 10L), (2L, 20L)).toDF("k", "n"), replace = true),
      Versioned.TxnWrite(wm, Seq((1L, 7L)).toDF("feed", "applied"))))
    assert(got == Map(view -> 1L, wm -> 1L))
    assert(Versioned.read(spark, view).count() == 2L)
    assert(Versioned.read(spark, wm).count() == 1L)
    // a second txn: replace the view, append the next watermark row
    Versioned.commitTxn(Seq(
      Versioned.TxnWrite(view, Seq((1L, 11L), (2L, 20L), (3L, 30L)).toDF("k", "n"), replace = true),
      Versioned.TxnWrite(wm, Seq((1L, 8L)).toDF("feed", "applied"))))
    assert(Versioned.versions(view) == Seq(1L, 2L) && Versioned.versions(wm) == Seq(1L, 2L))
    assert(Versioned.read(spark, view).count() == 3L)
    assert(Versioned.read(spark, wm).count() == 2L) // append, not replace
  }

  test("commitTxn: a crash BEFORE the decision leaves nothing visible and recovers to abort") {
    import spark.implicits._
    val view = freshDir("txn_crash0_view")
    val wm = freshDir("txn_crash0_wm")
    Versioned.commit(Seq((1L, 1L)).toDF("k", "n"), view)
    Versioned.commit(Seq((0L, 0L)).toDF("feed", "applied"), wm)
    val staged = Versioned.txnStage(Seq(
      Versioned.TxnWrite(view, Seq((2L, 2L)).toDF("k", "n")),
      Versioned.TxnWrite(wm, Seq((1L, 5L)).toDF("feed", "applied"))))
    Versioned.txnPublish(staged, 0) // CRASH before the coordinator marker
    // undecided: neither table shows the staged version
    assert(Versioned.versions(view) == Seq(1L) && Versioned.versions(wm) == Seq(1L))
    // presumed abort: recovery reclaims the participant (fencing the
    // coordinator's staged dir first) and then finds the coordinator gone
    assert(Versioned.recoverClaims(wm, olderThanMs = 0L) == Seq(2L))
    assert(Versioned.recoverClaims(view, olderThanMs = 0L).isEmpty,
      "participant recovery must have fenced (deleted) the coordinator's staged dir")
    // both tables fully writable again, slots reclaimed
    assert(Versioned.appendCommit(Seq((9L, 9L)).toDF("k", "n"), view) == 2L)
    assert(Versioned.appendCommit(Seq((9L, 9L)).toDF("feed", "applied"), wm) == 2L)
  }

  test("commitTxn: a crash AFTER the decision rolls the participant forward on first read") {
    import spark.implicits._
    val view = freshDir("txn_crash1_view")
    val wm = freshDir("txn_crash1_wm")
    val staged = Versioned.txnStage(Seq(
      Versioned.TxnWrite(view, Seq((1L, 10L)).toDF("k", "n"), replace = true),
      Versioned.TxnWrite(wm, Seq((1L, 3L)).toDF("feed", "applied"))))
    Versioned.txnPublish(staged, 1) // decision durable; CRASH before the participant marker
    // the outcome is fixed: the first reader rolls the watermark forward
    assert(Versioned.versions(view) == Seq(1L))
    assert(Versioned.versions(wm) == Seq(1L),
      "decided participant must roll forward lazily — no divergence window")
    assert(Versioned.read(spark, wm).as[(Long, Long)].collect().toSeq == Seq((1L, 3L)))
    // recovery must NOT reclaim a decided participant either
    assert(Versioned.recoverClaims(wm, olderThanMs = 0L).isEmpty)
  }

  test("commitTxn: a recycled coordinator slot never reads as a phantom decision (txn-id pin)") {
    import spark.implicits._
    val view = freshDir("txn_pin_view")
    val wm = freshDir("txn_pin_wm")
    val staged = Versioned.txnStage(Seq(
      Versioned.TxnWrite(view, Seq((1L, 1L)).toDF("k", "n")),
      Versioned.TxnWrite(wm, Seq((1L, 1L)).toDF("feed", "applied"))))
    Versioned.txnPublish(staged, 0) // crash before the decision
    // coordinator-side recovery runs first (another operator's sweep)
    assert(Versioned.recoverClaims(view, olderThanMs = 0L) == Seq(1L))
    // an unrelated writer re-claims and COMMITS the same slot
    assert(Versioned.commit(Seq((42L, 42L)).toDF("k", "n"), view) == 1L)
    // the lingering participant must not mistake that commit for its decision
    assert(Versioned.versions(wm).isEmpty,
      "participant rolled forward off an unrelated commit — txn-id pin broken")
    // and its recovery now aborts cleanly (slot recycled ⇒ fence is moot)
    assert(Versioned.recoverClaims(wm, olderThanMs = 0L) == Seq(1L))
    assert(Versioned.versions(view) == Seq(1L) && Versioned.versions(wm).isEmpty)
  }

  test("vacuum spares bloom sidecars: carried versions stay readable, point lookups keep pruning") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = freshDir("versioned_vacuum_bloom")
    val base = (0L until 400L).map(k => (k, k % 7)).toDF("id", "v")
      .repartition(4, col("id"))
    Versioned.commit(base, path, bloomCols = Seq("id"))                       // v1
    Versioned.appendCommit(Seq((1000L, 1L)).toDF("id", "v"), path)            // v2
    Versioned.appendCommit(Seq((1001L, 2L)).toDF("id", "v"), path)            // v3
    // v1 is outside keepLast but every data file it holds is carried by
    // reference in v3's manifest: nothing may be tombstoned or deleted —
    // the bloom sidecar is metadata, not junk
    assert(Versioned.vacuum(path, keepLast = 2) == 0)
    assert(Versioned.versions(path) == Seq(1L, 2L, 3L),
      "a fully-referenced version must survive vacuum intact")
    assert(Versioned.readAt(spark, path, 1L).count() == 400L)
    // and the sidecar still prunes whole files on a point probe
    val got = Versioned.readSkippingEq(spark, path, "id", 42L).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(42L))
    val (kept, total) = Versioned.lastBloomProbe(path).get
    assert(total >= 4 && kept < total,
      s"bloom sidecar must have survived vacuum and pruned ($kept/$total)")
  }

  test("readSkippingEq timestamp probe compares in the canonical second-truncated domain") {
    import spark.implicits._
    val path = freshDir("versioned_skipeq_ts")
    val rows = (0 until 16).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-15 ${i % 24}%02d:18:30")))
    // range-clustered on ts => per-file disjoint [min,max] stats windows
    Versioned.commitClustered(rows.toDF("k", "ts"), path, clusterCol = "ts", nFiles = 4)
    // the probe equals a recorded per-file max exactly; a Timestamp.toString
    // rendering ("…:30.0") compares PAST it and silently loses the row
    val probe = java.sql.Timestamp.valueOf("2024-01-15 09:18:30")
    val got = Versioned.readSkippingEq(spark, path, "ts", probe).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(9L),
      "equality probe on a timestamp stat boundary must find the row")
    val (kept, total) = Versioned.lastBloomProbe(path).get
    assert(kept < total, s"stats must still prune the other files ($kept/$total)")
  }
}
