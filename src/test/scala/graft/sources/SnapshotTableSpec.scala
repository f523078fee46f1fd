package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The minimal snapshot/manifest table format's three invariants
  * (SnapshotTable scaladoc), pinned on LIVE commits:
  * atomic visibility (a crashed commit — data files, no manifest —
  * is invisible), snapshot isolation (a reader holding v1 survives
  * any number of later commits AND a concurrent-rewrite vacuum of
  * everything it doesn't read), and linear history (manifest-rename
  * collisions serialize; the loser lands on the next version with
  * its data intact). Plus the time-travel roundtrip merge_time_travel
  * rides on. */
class SnapshotTableSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_snaptab").toString + "/t"

  private def rows(n: Int, tag: String) =
    (1 to n).map(i => (i.toLong, tag)).toDF("k", "tag")

  test("commit/read roundtrip; versions are dense; time travel reads every retained snapshot") {
    val t = freshDir()
    assert(SnapshotTable.versions(t).isEmpty)
    assert(SnapshotTable.commit(rows(3, "a"), t) == 1)
    assert(SnapshotTable.commit(rows(5, "b"), t) == 2)
    assert(SnapshotTable.commit(rows(2, "c"), t) == 3)
    assert(SnapshotTable.versions(t) == Seq(1, 2, 3))
    assert(SnapshotTable.read(spark, t, 1).count() == 3)
    assert(SnapshotTable.read(spark, t, 2).count() == 5)
    // latest (unversioned) read = v3
    assert(SnapshotTable.read(spark, t).agg(max($"k")).head().getLong(0) == 2)
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, t, 9)
    }
  }

  test("snapshot isolation: a reader holding v1 is undisturbed by later commits") {
    val t = freshDir()
    SnapshotTable.commit(rows(4, "v1"), t)
    val held = SnapshotTable.read(spark, t, 1) // resolved file list NOW
    SnapshotTable.commit(rows(9, "v2"), t)
    SnapshotTable.commit(rows(1, "v3"), t)
    // collect AFTER the rewrites: the held frame must still be v1
    val got = held.select($"k", $"tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1 to 4).map(i => (i.toLong, "v1")).toSet)
  }

  test("atomic visibility: a crashed commit (data files, no manifest) is invisible") {
    val t = freshDir()
    SnapshotTable.commit(rows(3, "live"), t)
    // simulate a writer that died after its data write, before its
    // manifest rename: orphan parquet under data/, no log entry
    rows(99, "crashed").write.parquet(s"$t/data/v2_crashed_0")
    assert(SnapshotTable.versions(t) == Seq(1),
      "orphan data files must not mint a version")
    assert(SnapshotTable.read(spark, t).count() == 3,
      "the latest read must not see the crashed writer's files")
  }

  test("linear history: a manifest collision retries at the next version, data intact") {
    val t = freshDir()
    SnapshotTable.commit(rows(2, "v1"), t)
    SnapshotTable.commit(rows(3, "v2"), t)
    // a 'racing writer' that computed proposed = 2 while v2 already
    // exists: publish must land at 3, re-pointing the same files
    val v2files = Files.readAllLines(
      new File(s"$t/_snaplog/v2.manifest").toPath)
    val landed = SnapshotTable.publishManifest(t,
      scala.jdk.CollectionConverters.ListHasAsScala(v2files).asScala.toSeq, 2)
    assert(landed == 3)
    assert(SnapshotTable.versions(t) == Seq(1, 2, 3))
    // v3 = the retried writer's content (= v2's files here)
    assert(SnapshotTable.read(spark, t, 3).count() == 3)
  }

  test("compact rewrites the latest snapshot smaller as a NEW version; old versions untouched") {
    val t = freshDir()
    SnapshotTable.commit(rows(64, "frag").repartition(8), t)
    def dataLines(v: Int) = Files.readAllLines(
      new File(s"$t/_snaplog/v$v.manifest").toPath)
      .stream().filter(l => !l.startsWith("#")).count().toInt
    val fragFiles = dataLines(1)
    assert(fragFiles == 8, s"fixture should fragment into 8, got $fragFiles")
    val v = SnapshotTable.compact(spark, t, targetFiles = 1)
    assert(v == 2)
    val compactedFiles = dataLines(2)
    assert(compactedFiles == 1)
    // content identical, fragmented version still readable
    def content(ver: Int) = SnapshotTable.read(spark, t, ver)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(content(2) == content(1) && content(1).size == 64)
  }

  test("append stacks file sets; appendOnce is exactly-once under replay; racing appends both land") {
    val t = freshDir()
    SnapshotTable.commit(rows(3, "base"), t) // v1 (CoW)
    val v2 = SnapshotTable.append(rows(4, "b0"), t)
    assert(v2 == 2 && SnapshotTable.read(spark, t, 2).count() == 7,
      "append must stack the batch onto the latest snapshot")
    // exactly-once: the same batch id replayed twice commits once
    val va = SnapshotTable.appendOnce(rows(5, "b1"), t, batchId = 1L)
    val vb = SnapshotTable.appendOnce(rows(5, "b1"), t, batchId = 1L)
    assert(va == 3 && vb == 3 && SnapshotTable.latestVersion(t) == 3)
    assert(SnapshotTable.read(spark, t).count() == 12)
    // a DIFFERENT batch id appends normally
    assert(SnapshotTable.appendOnce(rows(2, "b2"), t, 2L) == 4)
    assert(SnapshotTable.read(spark, t).count() == 14)
    // lost-update check: every append stacks on the TRUE latest —
    // after the interleaved appendOnce commits, a further append's
    // snapshot carries all 14 prior rows plus its own
    val v5 = SnapshotTable.append(rows(1, "b3"), t)
    assert(v5 == 5 && SnapshotTable.read(spark, t, 5).count() == 15,
      "an append must never drop files an earlier commit added")
  }

  test("streaming append sink: one snapshot per micro-batch, exactly-once on a replayed feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = freshDir()
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.SnapshotStreams.appendStream(
      mem.toDF().toDF("k", "tag"), t)
    mem.addData(Seq((1L, "a"), (2L, "a")))
    q.processAllAvailable()
    mem.addData(Seq((3L, "b")))
    q.processAllAvailable()
    q.stop()
    assert(SnapshotTable.versions(t).size == 2,
      "one snapshot per non-empty micro-batch")
    assert(SnapshotTable.read(spark, t).count() == 3)
    // an at-least-once REPLAY of batch 0 (the stale-checkpoint
    // restart) is skipped by its manifest marker
    import spark.implicits._
    val replay = Seq((1L, "a"), (2L, "a")).toDF("k", "tag")
    SnapshotTable.appendOnce(replay, t, batchId = 0L)
    assert(SnapshotTable.read(spark, t).count() == 3,
      "a replayed micro-batch must not double-append")
  }

  test("changes: append deltas are row-exact, replayed batches yield empty, CoW diff is the rewrite") {
    val t = freshDir()
    SnapshotTable.commit(rows(3, "base"), t)        // v1 (CoW)
    SnapshotTable.append(rows(4, "d1"), t)          // v2
    SnapshotTable.appendOnce(rows(2, "d2"), t, 7L)  // v3
    // append deltas: exactly the appended batch, nothing from base
    val d12 = SnapshotTable.changes(spark, t, 1, 2).collect()
    assert(d12.length == 4 && d12.forall(_.getString(1) == "d1"))
    val d23 = SnapshotTable.changes(spark, t, 2, 3)
    assert(d23.count() == 2 &&
      d23.filter(col("tag") =!= "d2").count() == 0)
    // spanning feed = union of per-version deltas
    assert(SnapshotTable.changes(spark, t, 1, 3).count() == 6)
    // a replayed appendOnce adds no version and no delta
    SnapshotTable.appendOnce(rows(2, "d2"), t, 7L)
    assert(SnapshotTable.latestVersion(t) == 3)
    // an idempotent same-version feed is empty (schema preserved)
    val same = SnapshotTable.changes(spark, t, 3, 3)
    assert(same.count() == 0 &&
      same.columns.toSeq == Seq("k", "tag"))
    // across a CoW rewrite the file-set difference is the WHOLE new
    // snapshot (documented: row-accurate deltas need the relational
    // diff there)
    SnapshotTable.commit(rows(1, "rewrite"), t)     // v4 (CoW)
    assert(SnapshotTable.changes(spark, t, 3, 4).count() == 1)
  }

  test("merge-on-read delete: keys vanish at scan time, base files untouched, compaction folds") {
    val t = freshDir()
    SnapshotTable.commit(rows(10, "base"), t)               // v1
    val baseFiles = SnapshotTable.read(spark, t, 1)
      .inputFiles.sorted.toSeq
    val v2 = SnapshotTable.delete(
      Seq(2L, 4L, 6L).toDF("k"), t)                         // v2 (MoR)
    assert(v2 == 2)
    val got = SnapshotTable.read(spark, t, 2)
    assert(got.count() == 7 &&
      got.filter($"k".isin(2L, 4L, 6L)).count() == 0,
      "deleted keys must vanish from the MoR read")
    // the base data files were NOT rewritten — the same files serve
    // v2 (plus the delete file the anti-join scans, under data/d*)
    assert(got.inputFiles.filterNot(_.contains("/data/d"))
      .sorted.toSeq == baseFiles,
      "MoR delete must not touch base data files")
    // snapshot isolation across a delete: v1 still sees all rows
    assert(SnapshotTable.read(spark, t, 1).count() == 10)
    // delete lines carry through a later append; an appended row
    // whose key sits in a delete file is dropped too (key deletes
    // are position-independent)
    SnapshotTable.append(
      Seq((4L, "late"), (11L, "new")).toDF("k", "tag"), t)  // v3
    val v3r = SnapshotTable.read(spark, t, 3)
    assert(v3r.count() == 8 &&
      v3r.filter($"k" === 11L).count() == 1 &&
      v3r.filter($"k" === 4L).count() == 0)
    // compaction folds the deletes: new snapshot, no '-' lines, same
    // visible rows, and reads stop paying the anti-join
    val v4 = SnapshotTable.compact(spark, t)
    val manifest = new String(Files.readAllBytes(
      new File(s"$t/_snaplog/v$v4.manifest").toPath), "UTF-8")
    assert(!manifest.lines().anyMatch(_.startsWith("-")),
      "compaction must fold delete files away")
    assert(SnapshotTable.read(spark, t, v4).count() == 8)
    // vacuum to the compacted version keeps serving it
    SnapshotTable.vacuum(t, retainFrom = v4)
    assert(SnapshotTable.read(spark, t).count() == 8)
  }

  test("deletes keyed on DIFFERENT columns each anti-join on their own key") {
    val t = freshDir()
    SnapshotTable.commit(rows(10, "keep")
      .union(Seq((11L, "drop_me"), (12L, "drop_me")).toDF("k", "tag")), t)
    SnapshotTable.delete(Seq(2L, 4L).toDF("k"), t)          // v2: by k
    SnapshotTable.delete(Seq("drop_me").toDF("tag"), t)     // v3: by tag
    val got = SnapshotTable.read(spark, t)
    // both delete commits must apply — a mixed-schema union would
    // null the second file's column and resurrect its rows
    assert(got.count() == 8)
    assert(got.filter($"k".isin(2L, 4L)).count() == 0,
      "the k-keyed delete must still apply after a tag-keyed delete")
    assert(got.filter($"tag" === "drop_me").count() == 0,
      "the tag-keyed delete must not be nulled under the k schema")
    // v2 saw only the k-delete
    assert(SnapshotTable.read(spark, t, 2).count() == 10)
  }

  test("delete on an empty table fails fast; changes on uncommitted versions fails fast") {
    val t = freshDir()
    intercept[IllegalArgumentException] {
      SnapshotTable.delete(Seq(1L).toDF("k"), t)
    }
    SnapshotTable.commit(rows(2, "a"), t)
    intercept[IllegalArgumentException] {
      SnapshotTable.changes(spark, t, 1, 9)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.changes(spark, t, 0, 1)
    }
  }

  test("change feed is delete-aware: rows invisible in read(toV) are never emitted") {
    val t = freshDir()
    SnapshotTable.commit(rows(5, "base"), t)                 // v1
    SnapshotTable.delete(Seq(3L, 4L).toDF("k"), t)           // v2 (MoR)
    // v3 appends a row whose key sits in the carried-forward delete
    SnapshotTable.append(
      Seq((4L, "late"), (11L, "new")).toDF("k", "tag"), t)   // v3
    val feed = SnapshotTable.changes(spark, t, 2, 3).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((11L, "new")),
      "the feed must be a subset of read(toV): (4,late) is invisible there")
    // the delete itself emits nothing (insert-only feed, documented)
    assert(SnapshotTable.changes(spark, t, 1, 2).count() == 0)
  }

  test("appendOnce stays exactly-once after vacuum removed the marker's birth manifest") {
    val t = freshDir()
    SnapshotTable.commit(rows(3, "base"), t)                 // v1
    SnapshotTable.appendOnce(rows(4, "b0"), t, batchId = 0L) // v2
    SnapshotTable.appendOnce(rows(2, "b1"), t, batchId = 1L) // v3
    val v4 = SnapshotTable.compact(spark, t)                 // v4 (CoW)
    assert(v4 == 4)
    SnapshotTable.vacuum(t, retainFrom = 4)
    assert(SnapshotTable.versions(t) == Seq(4),
      "the marker birth manifests v2/v3 are gone")
    // the stale-checkpoint replay across the vacuum: both batches
    // must be recognized from the carried-forward markers
    SnapshotTable.appendOnce(rows(4, "b0"), t, batchId = 0L)
    SnapshotTable.appendOnce(rows(2, "b1"), t, batchId = 1L)
    assert(SnapshotTable.latestVersion(t) == 4 &&
      SnapshotTable.read(spark, t).count() == 9,
      "a replay whose marker manifest was vacuumed must not double-append")
    // a genuinely NEW batch still lands, and carries the marker set on
    assert(SnapshotTable.appendOnce(rows(1, "b2"), t, 2L) == 5)
    SnapshotTable.vacuum(t, retainFrom = 5)
    SnapshotTable.appendOnce(rows(1, "b2"), t, 2L)
    assert(SnapshotTable.read(spark, t).count() == 10)
  }

  test("commitIfUnchanged: the racing loser gets a conflict, not a silent clobber") {
    val t = freshDir()
    SnapshotTable.commit(rows(3, "v1"), t)
    val baseSeen = SnapshotTable.latestVersion(t) // writer A reads v1
    // writer B lands first
    SnapshotTable.commit(rows(5, "writer_b"), t)
    // writer A's conditional publish must FAIL, and B's content stands
    intercept[SnapshotConflictException] {
      SnapshotTable.commitIfUnchanged(rows(9, "writer_a"), t, baseSeen)
    }
    assert(SnapshotTable.latestVersion(t) == 2)
    assert(SnapshotTable.read(spark, t).filter($"tag" === "writer_b")
      .count() == 5, "the first writer's content must stand")
    // with a fresh base the conditional commit succeeds
    assert(SnapshotTable.commitIfUnchanged(rows(1, "retry"), t, 2) == 3)
    // and a stale base fails fast even before writing data
    intercept[SnapshotConflictException] {
      SnapshotTable.commitIfUnchanged(rows(1, "stale"), t, 1)
    }
  }

  test("schema evolution: append with an added column null-fills old files on read") {
    val t = freshDir()
    SnapshotTable.commit(rows(3, "v1"), t)
    SnapshotTable.append(
      Seq((10L, "v2", 0.5)).toDF("k", "tag", "score"), t)
    val latest = SnapshotTable.read(spark, t)
    assert(latest.columns.toSeq == Seq("k", "tag", "score"),
      "committed columns first, added column appended")
    val byK = latest.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byK(10L) == Some(0.5) &&
      (1L to 3L).forall(byK(_).isEmpty),
      "files that predate the column must read NULL for it")
    // time travel: v1's recorded schema has NO score column
    assert(SnapshotTable.read(spark, t, 1).columns.toSeq ==
      Seq("k", "tag"))
  }

  test("schema evolution: a frame may omit committed columns (null-fill, never drop)") {
    val t = freshDir()
    SnapshotTable.commit(rows(2, "v1"), t)
    SnapshotTable.append(Seq(Tuple1(99L)).toDF("k"), t)
    val latest = SnapshotTable.read(spark, t)
    assert(latest.columns.toSeq == Seq("k", "tag"))
    val tags = latest.collect()
      .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!tags(1L) && !tags(2L) && tags(99L),
      "the omitting frame's rows read NULL; the column is not dropped")
  }

  test("schema evolution: int widens to long across the whole read; long->int is rejected") {
    val t = freshDir()
    SnapshotTable.commit(
      Seq((1, "a"), (2, "b")).toDF("k", "tag"), t)  // k: int
    SnapshotTable.append(
      Seq((3000000000L, "c")).toDF("k", "tag"), t)  // k: long
    val latest = SnapshotTable.read(spark, t)
    assert(latest.schema("k").dataType ==
      org.apache.spark.sql.types.LongType,
      "resolved type must be the widened long")
    assert(latest.select($"k").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3000000000L),
      "narrow files widen losslessly under the resolved schema")
    // an int frame arriving into the (now long) column is still legal
    // — the narrow FILE reads losslessly under the wide schema and the
    // resolved type stays long
    SnapshotTable.append(Seq((7, "d")).toDF("k", "tag")
      .select($"k".cast("int").as("k"), $"tag"), t)
    assert(SnapshotTable.read(spark, t).select($"k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 7L, 3000000000L))
    // but long→double would LOSE precision: not a widening — reject,
    // with no version consumed
    val vBefore = SnapshotTable.latestVersion(t)
    intercept[SnapshotSchemaException] {
      SnapshotTable.append(Seq((7.5, "e")).toDF("k", "tag"), t)
    }
    assert(SnapshotTable.latestVersion(t) == vBefore)
  }

  test("schema evolution: incompatible type drift fails fast before any bytes are written") {
    val t = freshDir()
    SnapshotTable.commit(rows(2, "v1"), t)
    val dataDirsBefore = Option(new File(s"$t/data").listFiles())
      .map(_.length).getOrElse(0)
    intercept[SnapshotSchemaException] {
      SnapshotTable.append(
        Seq(("oops", "v2")).toDF("k", "tag"), t)  // k: string vs long
    }
    assert(SnapshotTable.latestVersion(t) == 1)
    val dataDirsAfter = Option(new File(s"$t/data").listFiles())
      .map(_.length).getOrElse(0)
    assert(dataDirsAfter == dataDirsBefore,
      "the gate must fire BEFORE the data write — no orphan files")
    // CoW commit() legitimately REDEFINES the schema (it is a rewrite)
    assert(SnapshotTable.commit(
      Seq(("now-a-string", "v2")).toDF("k", "tag"), t) == 2)
    assert(SnapshotTable.read(spark, t).schema("k").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("schema evolution: markers and delete files carry through evolved appends") {
    val t = freshDir()
    SnapshotTable.commit(rows(4, "v1"), t)
    SnapshotTable.appendOnce(Seq((50L, "b1", 1.0))
      .toDF("k", "tag", "w"), t, batchId = 1)
    SnapshotTable.delete(Seq(Tuple1(2L)).toDF("k"), t)
    // the replay of batch 1 after evolution + delete must still skip
    val v = SnapshotTable.appendOnce(Seq((50L, "b1", 1.0))
      .toDF("k", "tag", "w"), t, batchId = 1)
    assert(SnapshotTable.latestVersion(t) == 3 && v <= 3,
      "replayed batch must not double-append across schema evolution")
    val got = SnapshotTable.read(spark, t).select($"k").collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 4L, 50L),
      "delete applies, evolved row present, no duplicate batch")
  }

  test("vacuum drops unreferenced files and old manifests; retained snapshots keep serving") {
    val t = freshDir()
    SnapshotTable.commit(rows(3, "v1"), t)
    SnapshotTable.commit(rows(5, "v2"), t)
    SnapshotTable.commit(rows(7, "v3"), t)
    val before = SnapshotTable.read(spark, t, 3)
    SnapshotTable.vacuum(t, retainFrom = 3)
    assert(SnapshotTable.versions(t) == Seq(3))
    assert(SnapshotTable.read(spark, t, 3).count() == 7)
    assert(before.count() == 7,
      "a reader that resolved v3 before the vacuum keeps reading it")
    // v1/v2's data files are gone from disk
    val dataDirs = new File(s"$t/data").listFiles()
    assert(dataDirs != null && dataDirs.forall(d =>
      d.listFiles() == null || d.listFiles().exists(f =>
        f.getName.endsWith(".parquet"))),
      "vacuum must remove emptied data dirs or leave only live files")
    val liveFiles = dataDirs.flatMap(d =>
      Option(d.listFiles()).getOrElse(Array.empty[File]))
      .count(_.getName.endsWith(".parquet"))
    val v3listed = Files.readAllLines(
      new File(s"$t/_snaplog/v3.manifest").toPath)
      .stream().filter(l => !l.startsWith("#")).count().toInt
    assert(liveFiles == v3listed,
      s"only v3's $v3listed files may survive, found $liveFiles")
  }
}
