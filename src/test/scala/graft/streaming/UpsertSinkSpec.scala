package graft.streaming

import graft.SparkTestBase
import graft.operators.Layout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.nio.file.Files

class UpsertSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-upsert").toString

  private def snap(path: String): Seq[(Long, String)] =
    UpsertSink.readSnapshot(spark, path)
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq

  private val B = 8

  private def apply(path: String, rows: Seq[(Long, Long, String, String)],
                    id: Long): Boolean =
    UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"), B)(
      rows.toDF("id", "seq", "op", "v"), id)

  test("a NULL key in a change batch fails the apply instead of landing in a bucket") {
    val path = tmp()
    val rows = Seq((Some(1L), 1L, "I", "one"), (None, 1L, "I", "ghost"))
      .toDF("id", "seq", "op", "v")
    val e = intercept[Exception] {
      UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"), B)(rows, 0)
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("applyBatch: NULL id in a change row")), messages)
    // nothing was committed
    assert(intercept[IllegalStateException](UpsertSink.readSnapshot(spark, path))
      .getMessage.contains("no snapshot"))
  }

  test("sequential batches fold exactly like batch mergeChanges") {
    val path = tmp()
    val b0 = Seq((1L, 1L, "I", "one"), (2L, 1L, "I", "two"), (3L, 1L, "I", "three"))
    val b1 = Seq((2L, 2L, "U", "TWO"), (4L, 1L, "I", "four"))
    val b2 = Seq((3L, 2L, "D", null), (1L, 3L, "U", "ONE"),
      (1L, 2L, "D", null)) // in-batch conflict: U@3 beats D@2
    assert(apply(path, b0, 0) && apply(path, b1, 1) && apply(path, b2, 2))

    // fold the same batches through the batch operator
    var folded: DataFrame = Seq.empty[(Long, String)].toDF("id", "v")
    for (b <- Seq(b0, b1, b2))
      folded = Layout.mergeChanges(folded, b.toDF("id", "seq", "op", "v"),
        "id", "seq", "op", Seq("v"))
    val want = folded.as[(Long, String)].collect().sorted.toSeq
    assert(snap(path) === want)
    assert(want === Seq((1L, "ONE"), (2L, "TWO"), (4L, "four")))
  }

  test("replayed batch ids are skipped and change nothing") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    assert(apply(path, Seq((1L, 2L, "U", "b")), 1))
    val before = snap(path)
    val mbefore = UpsertSink.readManifest(path).get
    // same id replayed, and an OLDER id — both no-ops
    assert(!apply(path, Seq((1L, 9L, "U", "XXX")), 1))
    assert(!apply(path, Seq((1L, 9L, "U", "XXX")), 0))
    assert(snap(path) === before && before === Seq((1L, "b")))
    assert(UpsertSink.readManifest(path).get == mbefore)
  }

  test("rewrites prune to touched buckets; untouched manifest entries survive") {
    val path = tmp()
    // spread keys over several buckets
    assert(apply(path, (1L to 40L).map(i => (i, 1L, "I", s"v$i")), 0))
    val m0 = UpsertSink.readManifest(path).get
    assert(m0.buckets.values.toSet === Set("delta/b0"))
    // touch exactly one key → exactly that key's bucket repoints
    assert(apply(path, Seq((7L, 2L, "U", "V7")), 1))
    val m1 = UpsertSink.readManifest(path).get
    val moved = m1.buckets.filter(_._2 == "delta/b1").keySet
    assert(moved.size == 1)
    assert(m1.buckets.filter(_._2 == "delta/b0") ==
      m0.buckets.view.filterKeys(!moved.contains(_)).toMap)
    assert(snap(path).toMap.apply(7L) == "V7")
    assert(snap(path).size == 40)
  }

  test("a bucket deleted empty drops out of the manifest") {
    val path = tmp()
    assert(apply(path, Seq((5L, 1L, "I", "five")), 0))
    assert(UpsertSink.readManifest(path).get.buckets.size == 1)
    assert(apply(path, Seq((5L, 2L, "D", null)), 1))
    val m = UpsertSink.readManifest(path).get
    assert(m.batchId == 1 && m.buckets.isEmpty)
    // an all-rows-deleted snapshot still reads with its TYPED schema
    // (the manifest carries the DDL) — downstream selects keep resolving
    val empty = UpsertSink.readSnapshot(spark, path)
    assert(empty.schema.map(f => (f.name, f.dataType.sql)) ===
      Seq(("id", "BIGINT"), ("v", "STRING")))
    assert(empty.select("id", "v").count() === 0)
  }

  test("layout-contract mismatches fail fast instead of corrupting") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    val m = UpsertSink.readManifest(path).get
    assert(m.numBuckets == B && m.key == "id")
    assert(m.schemaDdl == "id BIGINT,v STRING")
    // different bucket count → keys would hash into the wrong buckets
    val eNb = intercept[IllegalArgumentException] {
      UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"), B + 1)(
        Seq((1L, 2L, "U", "b")).toDF("id", "seq", "op", "v"), 1)
    }
    assert(eNb.getMessage.contains("numBuckets"))
    // different key TYPE → xxhash64 output changes → same corruption
    val eTy = intercept[IllegalArgumentException] {
      UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"), B)(
        Seq((1, 2L, "U", "b")).toDF("id", "seq", "op", "v"), 1)
    }
    assert(eTy.getMessage.contains("schema"))
    // different key column name
    val eKey = intercept[IllegalArgumentException] {
      UpsertSink.applyBatch(spark, path, "k", "seq", "op", Seq("v"), B)(
        Seq((1L, 2L, "U", "b")).toDF("k", "seq", "op", "v"), 1)
    }
    assert(eKey.getMessage.contains("keyed"))
    // the snapshot is untouched by the rejected calls
    assert(snap(path) === Seq((1L, "a")))
    // and a CONFORMING batch still applies
    assert(apply(path, Seq((1L, 2L, "U", "b")), 1))
    assert(snap(path) === Seq((1L, "b")))
  }

  test("crash window: a written-but-uncommitted delta leaves the snapshot " +
      "intact and the replayed batch completes exactly-once") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a"), (2L, 1L, "I", "b")), 0))
    val m0 = UpsertSink.readManifest(path).get

    // simulate the crash: batch 1's delta dir exists on disk (the
    // foreachBatch died after the parquet write, before writeManifest) —
    // hand-write a delta that would update key 1
    val fakeDelta = java.nio.file.Paths.get(path, "delta", "b1", "__bucket=0")
    java.nio.file.Files.createDirectories(fakeDelta.getParent)
    Seq((1L, "CRASHED")).toDF("id", "v").write.parquet(fakeDelta.toString)

    // readers only follow the manifest: the orphan delta is invisible
    assert(UpsertSink.readManifest(path).get == m0)
    assert(snap(path) === Seq((1L, "a"), (2L, "b")))

    // the stream replays batch 1 (same batchId, the REAL changes): the
    // apply overwrites the orphan dir (mode=overwrite per batch dir) and
    // commits the manifest — exactly-once across the crash
    assert(apply(path, Seq((1L, 2L, "U", "a2")), 1))
    assert(snap(path) === Seq((1L, "a2"), (2L, "b")))
    assert(UpsertSink.readManifest(path).get.batchId == 1)
    // and a second replay of the same id is skipped
    assert(!apply(path, Seq((1L, 9L, "U", "XXX")), 1))
    assert(snap(path) === Seq((1L, "a2"), (2L, "b")))
  }

  test("a legacy pre-contract manifest reads, applies once unchecked, and " +
      "upgrades to the full contract on that apply") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    // rewrite the current manifest in the OLD format (batchId + buckets
    // only) — what a pre-upgrade sink version left on disk
    val m = UpsertSink.readManifest(path).get
    val legacy = s"""{"batchId":${m.batchId},"buckets":{""" +
      m.buckets.toSeq.sortBy(_._1)
        .map { case (b, d) => s""""$b":"$d"""" }.mkString(",") + "}}"
    val mdir = java.nio.file.Paths.get(path, "_manifest")
    java.nio.file.Files.write(mdir.resolve(s"m${m.batchId}.json"),
      legacy.getBytes("UTF-8"))
    // the raw rewrite bypasses Hadoop's LocalFileSystem, whose checksum
    // sidecar still describes the ORIGINAL bytes — drop it (a real
    // legacy store's crc matches its own file)
    java.nio.file.Files.deleteIfExists(mdir.resolve(s".m${m.batchId}.json.crc"))
    val read = UpsertSink.readManifest(path).get
    assert(!read.hasLayout && read.buckets == m.buckets)
    assert(snap(path) === Seq((1L, "a"))) // snapshot still readable
    // the next apply is trusted once (nothing recorded to check) and
    // writes the full contract back
    assert(apply(path, Seq((1L, 2L, "U", "b")), 1))
    val upgraded = UpsertSink.readManifest(path).get
    assert(upgraded.hasLayout && upgraded.numBuckets == B &&
      upgraded.key == "id" && upgraded.schemaDdl == "id BIGINT,v STRING")
    assert(snap(path) === Seq((1L, "b")))
  }

  test("vacuum drops fully-superseded deltas and old manifests, nothing live") {
    val path = tmp()
    // b0 populates many buckets; b1 rewrites EVERY key (so delta/b0 is
    // fully superseded); b2 touches one key
    assert(apply(path, (1L to 40L).map(i => (i, 1L, "I", s"v$i")), 0))
    assert(apply(path, (1L to 40L).map(i => (i, 2L, "U", s"w$i")), 1))
    assert(apply(path, Seq((7L, 3L, "U", "W7")), 2))
    val before = snap(path)
    import scala.jdk.CollectionConverters._
    val deltaRoot = java.nio.file.Paths.get(path, "delta")
    def deltas() = java.nio.file.Files.list(deltaRoot).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(deltas() == Set("b0", "b1", "b2"))

    val (dirs, manifests) = UpsertSink.vacuum(path)
    assert(dirs == 1 && manifests == 2, s"($dirs, $manifests)") // b0; m0+m1
    assert(deltas() == Set("b1", "b2")) // b1 still holds 7's old bucket? no —
    // b1 holds every OTHER key's bucket; b2 holds key 7's. Both live.
    assert(snap(path) === before)
    // idempotent
    assert(UpsertSink.vacuum(path) == ((0, 0)))
    // and the sink still works after a vacuum
    assert(apply(path, Seq((41L, 1L, "I", "new")), 3))
    assert(snap(path).toMap.apply(41L) == "new")
  }

  test("vacuum racing a live writer leaves the writer's uncommitted " +
      "manifest AND delta in place") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    assert(apply(path, Seq((1L, 2L, "U", "b")), 1))
    val m1 = UpsertSink.readManifest(path).get
    assert(m1.batchId == 1)

    // fabricate the race window: an in-flight applyBatch for batch 2 has
    // already written its delta dir AND its manifest file, but has NOT
    // yet swapped _CURRENT (which still points at m1.json)
    val fakeDelta = java.nio.file.Paths.get(path, "delta", "b2", "__bucket=0")
    java.nio.file.Files.createDirectories(fakeDelta.getParent)
    Seq((1L, "inflight")).toDF("id", "v").write.parquet(fakeDelta.toString)
    val mdir = java.nio.file.Paths.get(path, "_manifest")
    java.nio.file.Files.write(mdir.resolve("m2.json"),
      s"""{"batchId":2,"numBuckets":$B,"key":"id","schema":"id BIGINT,v STRING","buckets":{"0":"delta/b2"}}"""
        .getBytes("UTF-8"))

    val (dirs, manifests) = UpsertSink.vacuum(path)
    // m0.json is dead (id 0 < 1) and delta/b0 is superseded; the
    // in-flight m2.json (id 2 > 1) and delta/b2 (id 2 > 1) must survive
    assert(dirs == 1 && manifests == 1, s"($dirs, $manifests)")
    assert(java.nio.file.Files.exists(mdir.resolve("m2.json")))
    assert(java.nio.file.Files.exists(fakeDelta))
    assert(!java.nio.file.Files.exists(mdir.resolve("m0.json")))
    // the snapshot under the current pointer is untouched
    assert(snap(path) === Seq((1L, "b")))
    // …so when the writer completes its swap (a fresh highest-version
    // pointer file), the pointer resolves: the post-swap snapshot reads
    // through m2.json
    import scala.jdk.CollectionConverters._
    val maxV = java.nio.file.Files.list(mdir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_ptr.v"))
      .map(_.stripPrefix("_ptr.v").toLong).max
    java.nio.file.Files.write(mdir.resolve(s"_ptr.v${maxV + 1}"),
      "m2.json".getBytes("UTF-8"))
    assert(UpsertSink.readManifest(path).get.batchId == 2)
    assert(snap(path) === Seq((1L, "inflight")))
  }

  test("compactSnapshot merges delta dirs behind the manifest swap: a " +
      "concurrent reader never sees a doubled or missing row") {
    val path = tmp()
    assert(apply(path, (1L to 40L).map(i => (i, 1L, "I", s"v$i")), 0))
    assert(apply(path, (1L to 40L).filter(_ % 3 == 0)
      .map(i => (i, 2L, "U", s"w$i")), 1))
    assert(apply(path, Seq((41L, 1L, "I", "x"), (5L, 2L, "D", null)), 2))
    val want = snap(path)
    val m2 = UpsertSink.readManifest(path).get
    assert(m2.buckets.values.toSet.size > 1) // genuinely fragmented

    // a reader that resolved _CURRENT BEFORE the compaction: its plan is
    // bound to the old bucket dirs, which the swap must leave on disk
    val preReader = UpsertSink.readSnapshot(spark, path)

    val stats = UpsertSink.compactSnapshot(spark, path)
    assert(stats.dirsScanned == m2.buckets.values.toSet.size &&
      stats.dirsCompacted == stats.dirsScanned, stats.toString)
    assert(stats.filesBefore >= stats.filesAfter && stats.filesAfter > 0)

    // pre-compact reader: every row exactly once (old dirs intact)
    assert(preReader.select("id", "v").as[(Long, String)]
      .collect().sorted.toSeq === want)
    // post-compact reader: identical content, same batchId (compaction
    // is layout, not state), one delta dir, every bucket entry on it
    assert(snap(path) === want)
    val mc = UpsertSink.readManifest(path).get
    assert(mc.batchId == m2.batchId && mc.buckets.keySet == m2.buckets.keySet)
    val compactDirs = mc.buckets.values.toSet
    assert(compactDirs.size == 1 && compactDirs.head.startsWith("delta/c2-"))

    // a second compaction is a no-op (already one dir, zero jobs)
    assert(UpsertSink.compactSnapshot(spark, path) ===
      graft.operators.Layout.CompactStats(1, 0, 0L, 0L, 0L))

    // Layout.compact routes a _CURRENT-managed tree here instead of the
    // in-place swap (which would double rows transiently)
    assert(graft.operators.Layout.compact(spark, path) ===
      graft.operators.Layout.CompactStats(1, 0, 0L, 0L, 0L))
    // …and REFUSES tuning that does not apply on the rerouted path
    // instead of silently ignoring it
    val tuned = intercept[IllegalArgumentException] {
      graft.operators.Layout.compact(spark, path, targetBytes = 1L << 20)
    }
    assert(tuned.getMessage.contains("compactSnapshot"), tuned.getMessage)

    // vacuum reclaims the superseded b-dirs and old manifests; the
    // snapshot reads identically after, and the sink still applies
    val (dirs, manifests) = UpsertSink.vacuum(path)
    assert(dirs == 3 && manifests == 2, s"($dirs, $manifests)")
    assert(snap(path) === want)
    assert(apply(path, Seq((42L, 1L, "I", "y")), 3))
    assert(snap(path).toMap.apply(42L) == "y")
    // after the id advances past the compaction, the superseded m2.json
    // AND the same-id compaction manifest become reclaimable (the
    // strictly-older guard now sees id 2 < 3)
    val (_, manifests2) = UpsertSink.vacuum(path)
    assert(manifests2 == 2)
  }

  test("time travel: readSnapshotAt recovers every committed version, " +
      "clamps, skips uncommitted orphans, and vacuum collapses history") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a"), (2L, 1L, "I", "b")), 0))
    assert(apply(path, Seq((2L, 2L, "U", "B2"), (3L, 1L, "I", "c")), 1))
    assert(apply(path, Seq((1L, 3L, "D", null)), 2))
    assert(UpsertSink.snapshotVersions(path) == Seq(0L, 1L, 2L))
    def at(id: Long) = UpsertSink.readSnapshotAt(spark, path, id)
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq
    assert(at(0) === Seq((1L, "a"), (2L, "b")))
    assert(at(1) === Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    assert(at(2) === Seq((2L, "B2"), (3L, "c")))
    assert(at(99) === at(2)) // above current: clamps to current
    intercept[IllegalStateException] { at(-1) } // before the first commit

    // an orphan manifest from a crashed apply (written, never swapped)
    // must NOT be readable: uncommitted state stays invisible
    val mdir = java.nio.file.Paths.get(path, "_manifest")
    java.nio.file.Files.write(mdir.resolve("m9.json"),
      s"""{"batchId":9,"numBuckets":$B,"key":"id","schema":"id BIGINT,v STRING","buckets":{"0":"delta/b9"}}"""
        .getBytes("UTF-8"))
    assert(at(99) === at(2))
    java.nio.file.Files.delete(mdir.resolve("m9.json"))

    // compaction adds a same-id manifest: time travel still reads every
    // version, and the compacted current state is identical
    UpsertSink.compactSnapshot(spark, path)
    assert(UpsertSink.snapshotVersions(path) == Seq(0L, 1L, 2L))
    assert(at(1) === Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    assert(at(2) === Seq((2L, "B2"), (3L, "c")))

    // vacuum collapses history to the current snapshot: version 1 gone
    // with a CLEAR error; the current id still reads (through whichever
    // same-id manifest kept its dirs — the apply one lost them)
    UpsertSink.vacuum(path)
    assert(UpsertSink.snapshotVersions(path) == Seq(2L))
    val e = intercept[IllegalStateException] { at(1) }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    assert(at(2) === Seq((2L, "B2"), (3L, "c")))
  }

  test("a pre-upgrade store with only the legacy _CURRENT pointer opens, " +
      "and the next apply upgrades it to versioned pointers") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    // convert to the legacy on-disk form: drop every versioned pointer,
    // plant the single-file _CURRENT an old store would carry
    val mdir = java.nio.file.Paths.get(path, "_manifest")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(mdir).iterator().asScala.toList
      .filter(p => p.getFileName.toString.startsWith("_ptr.v") ||
        p.getFileName.toString.startsWith("._ptr.v"))
      .foreach(java.nio.file.Files.delete)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_CURRENT"),
      "m0.json".getBytes("UTF-8"))
    assert(UpsertSink.readManifest(path).get.batchId == 0)
    assert(snap(path) === Seq((1L, "a")))
    // the next apply writes a versioned pointer, which takes precedence
    assert(apply(path, Seq((1L, 2L, "U", "b")), 1))
    assert(snap(path) === Seq((1L, "b")))
    assert(java.nio.file.Files.list(mdir).iterator().asScala
      .exists(_.getFileName.toString.startsWith("_ptr.v")))
    // vacuum drops the shadowed legacy file
    UpsertSink.vacuum(path)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_CURRENT")))
    assert(snap(path) === Seq((1L, "b")))
  }

  test("vacuum retention: retainVersions keeps the newest N versions " +
      "time-travel readable and reclaims everything older") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    assert(apply(path, Seq((1L, 2L, "U", "b"), (2L, 1L, "I", "x")), 1))
    assert(apply(path, Seq((2L, 2L, "U", "X2")), 2))
    assert(apply(path, Seq((3L, 1L, "I", "c")), 3))
    assert(UpsertSink.snapshotVersions(path) == Seq(0L, 1L, 2L, 3L))
    def at(id: Long) = UpsertSink.readSnapshotAt(spark, path, id)
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq

    val (d2, m2) = UpsertSink.vacuum(path, retainVersions = 3)
    // only version 0's artifacts fall outside the window: m0.json and
    // delta/b0 (b0's bucket was rewritten by batch 1, so nothing current
    // points at it)
    assert(d2 == 1 && m2 == 1, s"($d2, $m2)")
    assert(UpsertSink.snapshotVersions(path) == Seq(1L, 2L, 3L))
    assert(at(1) === Seq((1L, "b"), (2L, "x")))
    assert(at(2) === Seq((1L, "b"), (2L, "X2")))
    assert(at(3) === Seq((1L, "b"), (2L, "X2"), (3L, "c")))
    intercept[IllegalStateException] { at(0) }
    // idempotent at the same retention
    assert(UpsertSink.vacuum(path, retainVersions = 3) == ((0, 0)))
    // shrinking the window reclaims the rest; current always survives
    UpsertSink.vacuum(path)
    assert(UpsertSink.snapshotVersions(path) == Seq(3L))
    assert(at(3) === Seq((1L, "b"), (2L, "X2"), (3L, "c")))
    intercept[IllegalArgumentException] {
      UpsertSink.vacuum(path, retainVersions = 0)
    }
  }

  test("sink auto-compaction: compactEvery folds maintenance into the " +
      "stream; vacuumAfterCompact reclaims superseded dirs") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val input = MemoryStream[(Long, Long, String, String)]
    val query = input.toDF().toDF("id", "seq", "op", "v")
      .writeStream
      .foreachBatch(UpsertSink.sink(spark, path, "id", "seq", "op", Seq("v"),
        B, compactEvery = 2, maxDeltaDirs = 1, vacuumAfterCompact = true))
      .outputMode("append").start()
    try {
      input.addData((1L, 1L, "I", "a"), (2L, 1L, "I", "b"))
      query.processAllAvailable()
      input.addData((1L, 2L, "U", "a2"), (3L, 1L, "I", "c"))
      query.processAllAvailable() // 2nd applied batch -> compact + vacuum
      input.addData((4L, 1L, "I", "d"))
      query.processAllAvailable()
      assert(snap(path).toMap ===
        Map(1L -> "a2", 2L -> "b", 3L -> "c", 4L -> "d"))
      // after the batch-1 compact+vacuum, dirs = that compaction's own
      // c1-* plus the post-compaction b2; the pre-compaction b0/b1 gone
      import scala.jdk.CollectionConverters._
      val dirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(path, "delta")).iterator().asScala
        .map(_.getFileName.toString).toSet
      assert(dirs.exists(_.startsWith("c1-")) && dirs.contains("b2") &&
        !dirs.contains("b0") && !dirs.contains("b1"), dirs.toString)
    } finally query.stop()
  }

  test("incremental compaction: only the smallest dirs merge; the " +
      "settled base dir is never rewritten") {
    val path = tmp()
    // base batch: every key, fat payloads — the big settled dir (b0)
    assert(apply(path, (1L to 200L).map(i => (i, 1L, "I", s"base$i " * 30)), 0))
    // three single-key fragment batches in three DISTINCT buckets (the
    // sink's own routing hash picks the keys, so no collision can fold
    // two fragments into one bucket and change the dir arithmetic)
    val byBucket = spark.range(1, 201)
      .selectExpr("id", s"pmod(xxhash64(id), $B) AS b")
      .as[(Long, Long)].collect().groupBy(_._2)
    val fragKeys = byBucket.values.take(3).map(_.head._1).toSeq
    assert(fragKeys.size == 3)
    fragKeys.zipWithIndex.foreach { case (k, i) =>
      assert(apply(path, Seq((k, 2L, "U", s"f$k")), i + 1L))
    }
    val want = snap(path)
    val m3 = UpsertSink.readManifest(path).get
    assert(m3.buckets.values.toSet.size == 4) // b0 + three fragments
    val baseBuckets = m3.buckets.filter(_._2 == "delta/b0")
    assert(baseBuckets.nonEmpty)
    // physical fingerprint of the base dir: compaction must not touch it
    import scala.jdk.CollectionConverters._
    def baseFiles() = java.nio.file.Files.walk(
        java.nio.file.Paths.get(path, "delta", "b0")).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
      .toMap
    val baseBefore = baseFiles()

    // target 2 live dirs: merge the 3 small dirs into one c-dir, keep b0
    val stats = UpsertSink.compactSnapshot(spark, path, maxDeltaDirs = 2)
    assert(stats.dirsScanned == 4 && stats.dirsCompacted == 3, stats.toString)
    val mc = UpsertSink.readManifest(path).get
    // untouched buckets still point at the base dir — byte-identical files
    assert(mc.buckets.filter(_._2 == "delta/b0") == baseBuckets)
    assert(baseFiles() == baseBefore)
    // merged buckets all point at the one new c-dir
    val cDirs = mc.buckets.values.toSet - "delta/b0"
    assert(cDirs.size == 1 && cDirs.head.startsWith("delta/c3-"), cDirs)
    // the work done tracks the FRAGMENTS, not the table: bytes stat stays
    // below the base dir's size (200 rows vs 3 rows)
    val baseBytes = baseBefore.keys
      .filter(!_.endsWith(".crc")).map(p =>
        java.nio.file.Files.size(java.nio.file.Paths.get(p))).sum
    assert(stats.bytes < baseBytes,
      s"compacted ${stats.bytes} bytes but base dir holds $baseBytes")
    // content identical; vacuum reclaims exactly the 3 merged fragment dirs
    assert(snap(path) === want)
    val (dirs, _) = UpsertSink.vacuum(path)
    assert(dirs == 3, s"vacuum reclaimed $dirs dirs")
    assert(snap(path) === want)
    // a second pass at the same target is a no-op
    assert(UpsertSink.compactSnapshot(spark, path, maxDeltaDirs = 2) ===
      Layout.CompactStats(2, 0, 0L, 0L, 0L))
  }

  test("sink metadata probes are a small constant, never O(numBuckets)") {
    val path = tmp()
    val wide = 64
    def applyWide(rows: Seq[(Long, Long, String, String)], id: Long) =
      UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"), wide)(
        rows.toDF("id", "seq", "op", "v"), id)
    assert(applyWide((1L to 300L).map(i => (i, 1L, "I", s"v$i")), 0))
    // a second batch touching ~all 64 buckets: the sink's own driver-side
    // metadata traffic (exists/listStatus/listFiles) must not scale with
    // the bucket count — at production counts per-bucket probes are
    // thousands of sequential RPCs against an object store
    val before = UpsertSink.metaOps.get()
    assert(applyWide((1L to 300L).map(i => (i, 2L, "U", s"w$i")), 1))
    val applyOps = UpsertSink.metaOps.get() - before
    assert(applyOps < wide / 2, s"applyBatch issued $applyOps metadata ops " +
      s"for $wide buckets — looks per-bucket")
    val before2 = UpsertSink.metaOps.get()
    UpsertSink.compactSnapshot(spark, path)
    val compactOps = UpsertSink.metaOps.get() - before2
    assert(compactOps < wide / 2, s"compactSnapshot issued $compactOps " +
      s"metadata ops for $wide buckets — looks per-bucket")
  }

  test("compaction cadence derives from the durable batchId: a stream " +
      "restarting every batch still compacts") {
    val path = tmp()
    // three sink CLOSURES, one applied batch each — the restart-per-batch
    // worst case. An in-memory counter would reset each time and never
    // reach compactEvery=2; the batchId-derived cadence fires at id 1.
    for (id <- 0L to 2L) {
      val s = UpsertSink.sink(spark, path, "id", "seq", "op", Seq("v"), B,
        compactEvery = 2, maxDeltaDirs = 1)
      s(Seq((id + 1, id + 1, "I", s"v$id")).toDF("id", "seq", "op", "v"), id)
    }
    import scala.jdk.CollectionConverters._
    val dirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(path, "delta")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(dirs.exists(_.startsWith("c1-")),
      s"no compaction fired across restarts: $dirs")
    assert(snap(path).size == 3)
  }

  test("pointer hygiene without vacuum: a long apply stream holds a " +
      "bounded pointer set; young .ptr.tmp files survive vacuum, aged " +
      "ones sweep") {
    val path = tmp()
    for (i <- 0L until 8L)
      assert(apply(path, Seq((i, 1L, "I", s"v$i")), i))
    import scala.jdk.CollectionConverters._
    val mdir = java.nio.file.Paths.get(path, "_manifest")
    def ptrs() = java.nio.file.Files.list(mdir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_ptr.v")).toSet
    // all eight pointers are YOUNG (inside the grace window), so the
    // writer-side sweep leaves them — a slow reader's just-listed pick
    // stays openable through a burst of fast micro-batches
    assert(ptrs().size == 8, ptrs())
    // age them past the grace window; the NEXT swap sweeps everything
    // outside the newest two — bounded without ever running vacuum
    ptrs().foreach { n =>
      java.nio.file.Files.setLastModifiedTime(mdir.resolve(n),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - UpsertSink.TmpPointerGraceMs - 60000))
    }
    assert(apply(path, Seq((100L, 1L, "I", "v100")), 8))
    assert(ptrs().map(_.stripPrefix("_ptr.v").toLong) == Set(7L, 8L), ptrs())

    // a YOUNG tmp pointer (an in-flight writer's pre-rename file) must
    // survive vacuum; an AGED one (crashed swap) sweeps
    val young = mdir.resolve(".ptr.tmp.young")
    val aged = mdir.resolve(".ptr.tmp.aged")
    java.nio.file.Files.write(young, "m7.json".getBytes("UTF-8"))
    java.nio.file.Files.write(aged, "m0.json".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - UpsertSink.TmpPointerGraceMs - 60000))
    UpsertSink.vacuum(path)
    assert(java.nio.file.Files.exists(young), "vacuum swept an in-flight tmp")
    assert(!java.nio.file.Files.exists(aged), "vacuum kept a crashed tmp")
    java.nio.file.Files.delete(young)
    assert(snap(path).size == 9)
  }

  test("swap protocol under concurrent reads: every read observes one " +
      "complete committed version, never a torn mix") {
    val path = tmp()
    val keys = 1L to 60L
    assert(apply(path, keys.map(k => (k, 0L, "I", "b0")), 0))

    // writer: 10 more versions, each rewriting EVERY key to its version
    // tag (so a torn read would surface as mixed tags or missing rows),
    // with reader-safe compactions interleaved; retention stays wide so
    // no dir a reader might still hold is reclaimed mid-run
    @volatile var writerError: Throwable = null
    val writer = new Thread(() => {
      try {
        for (i <- 1 to 10) {
          apply(path, keys.map(k => (k, i.toLong, "U", s"b$i")), i.toLong)
          if (i % 4 == 0) UpsertSink.compactSnapshot(spark, path)
        }
      } catch { case t: Throwable => writerError = t }
    })
    writer.start()
    var reads = 0
    try {
      while (writer.isAlive) {
        val rows = snap(path)
        assert(rows.map(_._1) == keys, s"read $reads: missing/extra keys")
        assert(rows.map(_._2).toSet.size == 1,
          s"read $reads: torn version mix ${rows.map(_._2).toSet}")
        reads += 1
      }
    } finally writer.join()
    assert(writerError == null, String.valueOf(writerError))
    assert(reads > 0)
    // final state + a full-history vacuum leave the snapshot intact
    assert(snap(path).map(_._2).toSet == Set("b10"))
    UpsertSink.vacuum(path)
    assert(snap(path).map(_._2).toSet == Set("b10"))
  }

  test("point lookups and changefeeds racing a live writer observe one " +
      "complete committed version, never a torn mix") {
    val path = tmp()
    val keys = 1L to 60L
    assert(apply(path, keys.map(k => (k, 0L, "I", "b0")), 0))
    val probe = Seq(3L, 17L, 42L) // three distinct buckets, most runs
    @volatile var writerError: Throwable = null
    val writer = new Thread(() => {
      try {
        for (i <- 1 to 8) {
          apply(path, keys.map(k => (k, i.toLong, "U", s"b$i")), i.toLong)
          if (i % 3 == 0) UpsertSink.compactSnapshot(spark, path)
        }
      } catch { case t: Throwable => writerError = t }
    })
    writer.start()
    var reads = 0
    try {
      while (writer.isAlive) {
        // a lookup resolves ONE manifest then reads its pruned buckets:
        // all probed keys must answer from the same committed version
        val got = UpsertSink.readSnapshotKeys(spark, path, probe)
          .as[(Long, String)].collect().sortBy(_._1).toSeq
        assert(got.map(_._1) == probe, s"lookup $reads: missing keys $got")
        assert(got.map(_._2).toSet.size == 1,
          s"lookup $reads: torn version mix $got")
        // a changefeed between two committed versions is stable even as
        // the head advances: 0 -> 1 is a fixed diff once version 1 lands
        if (UpsertSink.snapshotVersions(path).contains(1L)) {
          val feed = UpsertSink.readChanges(spark, path, 0, 1)
            .as[(Long, String, String)].collect()
          assert(feed.length == keys.size &&
            feed.forall(r => r._2 == "update" && r._3 == "b1"),
            s"feed $reads: ${feed.take(5).toSeq}")
        }
        reads += 1
      }
    } finally writer.join()
    assert(writerError == null, String.valueOf(writerError))
    assert(reads > 0)
  }

  test("sortBy clusters each bucket file: monotone row-group stats, " +
      "manifest round-trip, compaction re-sorts older dirs") {
    val path = tmp()
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    // force several row groups per bucket file so the stats claim is
    // non-trivial at spec scale
    hc.setInt("parquet.block.size", 4 * 1024)
    hc.setInt("parquet.page.size", 1024)
    try {
      // injective ts, NON-monotone in id (7919 wraps the modulus every
      // ~13 ids — the merge's window sorts rows by key, so a
      // key-monotone ts would make even unsorted writes look clustered)
      def rows(ids: Seq[Long], seq: Long) = ids.map(i =>
        (i, seq, "I", i * 7919 % 100003,
          s"pad-$i-" + "x" * 64)) // distinct pads defeat the dictionary
        .toDF("id", "seq", "op", "ts", "pad")
      // batch 0 WITHOUT sortBy (pre-clustering era) over all buckets;
      // batch 1 WITH sortBy, restricted to keys routing to buckets
      // {0,1} so delta/b0 stays LIVE for buckets {2,3} — two live dirs
      // of different eras for the compaction half below
      val ids1 = spark.range(2000, 4000)
        .where("pmod(xxhash64(id), 4) < 2").as[Long].collect().toSeq
      assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op",
        Seq("ts", "pad"), 4)(rows(0L until 2000L, 1L), 0))
      assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op",
        Seq("ts", "pad"), 4, sortBy = Seq("ts"))(rows(ids1, 1L), 1))
      assert(UpsertSink.readManifest(path).get.sortBy === Seq("ts"))

      def tsGroups(file: String): Seq[(Long, Long)] =
        statsGroups(file, "ts", hc)
      def monotone(file: String): Boolean = monotoneIn(file, "ts", hc)
      def filesOf(dir: String): Seq[String] = {
        val d = new java.io.File(s"$path/$dir")
        d.listFiles.filter(_.isDirectory).flatMap(_.listFiles)
          .filter(f => f.getName.endsWith(".parquet")).map(_.toString).toSeq
      }
      // the sorted batch's files: several row groups, monotone stats
      val sortedFiles = filesOf("delta/b1")
      assert(sortedFiles.nonEmpty)
      assert(sortedFiles.forall(f => tsGroups(f).size > 1),
        "blocks too large for a meaningful stats check")
      assert(sortedFiles.forall(monotone))
      // the pre-sortBy batch interleaves (sanity: the witness can fail)
      assert(!filesOf("delta/b0").forall(monotone))

      // compaction merges BOTH eras into one dir re-sorted to the
      // manifest's recording
      val stats = UpsertSink.compactSnapshot(spark, path)
      assert(stats.dirsCompacted === 2)
      val m2 = UpsertSink.readManifest(path).get
      assert(m2.sortBy === Seq("ts"))
      val cDir = m2.buckets.values.toSet
      assert(cDir.size === 1)
      assert(filesOf(cDir.head).forall(monotone))
      // and the content is untouched by all the re-ordering
      assert(UpsertSink.readSnapshot(spark, path).count()
        === 2000L + ids1.size)

      val e = intercept[IllegalArgumentException] {
        UpsertSink.applyBatch(spark, path, "id", "seq", "op",
          Seq("ts", "pad"), 4, sortBy = Seq("nope"))(
          rows(Seq(0L), 2L), 2)
      }
      assert(e.getMessage.contains("sortBy"))

      // the OPTIMIZE…ZORDER verb: compactSnapshot(sortBy = …) RE-clusters
      // an existing store to a NEW sort and records it — fragment first
      // so the pass has something to merge
      assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op",
        Seq("ts", "pad"), 4)(rows(Seq(4000L, 4001L), 1L), 2))
      UpsertSink.compactSnapshot(spark, path, sortBy = Some(Seq("id")))
      val m3 = UpsertSink.readManifest(path).get
      assert(m3.sortBy === Seq("id"))
      assert(filesOf(m3.buckets.values.head)
        .forall(monotoneIn(_, "id", hc)))
      val e2 = intercept[IllegalArgumentException] {
        UpsertSink.compactSnapshot(spark, path, sortBy = Some(Seq("zzz")))
      }
      assert(e2.getMessage.contains("sortBy"))
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size")
      else hc.set("parquet.page.size", oldPage)
    }
  }

  test("bloomFilterKey writes parquet key blooms that reject absent keys; " +
      "compaction carries the preference forward") {
    val path = tmp()
    assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"),
      4, bloomFilterKey = true)(
      (1L to 400L).map(k => (k, 1L, "I", s"v$k")).toDF("id", "seq", "op", "v"),
      0))
    assert(UpsertSink.readManifest(path).get.bloomKey)
    // fragment + compact: the c-dir must carry blooms too
    assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"),
      4, bloomFilterKey = true)(
      Seq((401L, 1L, "I", "v401")).toDF("id", "seq", "op", "v"), 1))
    UpsertSink.compactSnapshot(spark, path)
    val m = UpsertSink.readManifest(path).get
    assert(m.bloomKey && m.buckets.values.toSet.size === 1)

    import scala.jdk.CollectionConverters._
    val hc = spark.sparkContext.hadoopConfiguration
    val dataFiles = new java.io.File(s"$path/${m.buckets.values.head}")
      .listFiles.filter(_.isDirectory).flatMap(_.listFiles)
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    assert(dataFiles.nonEmpty)
    var present = 0L; var absentRejected = 0; var absentTried = 0
    for (f <- dataFiles) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), hc)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.foreach { b =>
        val cc = b.getColumns.asScala
          .find(_.getPath.toDotString == "id").get
        val bloom = r.getBloomFilterDataReader(b).readBloomFilter(cc)
        assert(bloom != null, s"no key bloom in $f")
        // every written key answers yes; absent keys mostly reject
        // (false positives are the design, so assert a strong majority)
        for (k <- 1L to 401L)
          if (bloom.findHash(bloom.hash(k))) present += 1
        for (k <- 1000L to 1019L) {
          absentTried += 1
          if (!bloom.findHash(bloom.hash(k))) absentRejected += 1
        }
      } finally r.close()
    }
    // each key is in exactly ONE file's bloom: total hits across the 4
    // files ≥ 401 (equality, modulo false positives adding a few)
    assert(present >= 401, s"only $present bloom hits for written keys")
    assert(absentRejected * 10 >= absentTried * 8,
      s"blooms rejected only $absentRejected/$absentTried absent probes")
    // and the pruned lookup still answers exactly through bloom'd files
    assert(UpsertSink.readSnapshotKeys(spark, path, Seq(7L, 401L, 9999L))
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq
      === Seq((7L, "v7"), (401L, "v401")))
  }

  test("snapshotHistory describes the committed manifest chain through " +
      "SQL, excluding orphans and reflecting layout preferences") {
    val path = tmp()
    assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"),
      B, sortBy = Seq("v"), bloomFilterKey = true)(
      (1L to 30L).map(k => (k, 1L, "I", s"v$k")).toDF("id", "seq", "op", "v"),
      0))
    assert(apply(path, Seq((1L, 2L, "U", "b")), 1))
    UpsertSink.compactSnapshot(spark, path)
    // an uncommitted orphan manifest (crashed apply) must not appear
    val mdir = java.nio.file.Paths.get(path, "_manifest")
    java.nio.file.Files.write(mdir.resolve("m99.json"),
      """{"batchId":99,"buckets":{}}""".getBytes("UTF-8"))
    graft.Graft.register(spark)
    val rows = spark.sql(
      s"SELECT version, kind, sort_by, bloom_key FROM " +
        s"graft_snapshot_history('$path') ORDER BY version, kind")
      .as[(Long, String, String, Boolean)].collect().toSeq
    assert(rows === Seq(
      (0L, "apply", "v", true),
      (1L, "apply", "", false), // batch 1 applied without the prefs
      (1L, "compact", "", false))) // compaction carries batch 1's recording
    assert(spark.sql(s"SELECT * FROM graft_snapshot_history('$path')")
      .columns.toSeq === Seq("version", "kind", "buckets", "delta_dirs",
        "sort_by", "bloom_key", "schema"))
    // past ten versions the chain must order NUMERICALLY, not by the
    // filename's lexicographic order (m10.json < m2.json)
    (2L to 11L).foreach(i =>
      assert(apply(path, Seq((1L, i + 1, "U", s"b$i")), i)))
    val vs = spark.sql(
      s"SELECT version FROM graft_snapshot_history('$path')")
      .as[Long].collect().toSeq
    assert(vs === vs.sorted && vs.last === 11L, vs.toString)
  }

  /** Per-row-group (min, max) footer statistics of `colName` in file
    * order — the witness that a sorted layout gives parquet something
    * to skip on. */
  private def statsGroups(file: String, colName: String,
      hc: org.apache.hadoop.conf.Configuration): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), hc)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getBlocks.asScala.toSeq.map { b =>
      val s = b.getColumns.asScala
        .find(_.getPath.toDotString == colName).get.getStatistics
      (s.genericGetMin.asInstanceOf[Number].longValue(),
        s.genericGetMax.asInstanceOf[Number].longValue())
    } finally r.close()
  }

  private def monotoneIn(file: String, colName: String,
      hc: org.apache.hadoop.conf.Configuration): Boolean = {
    val gs = statsGroups(file, colName, hc)
    gs.zip(gs.drop(1)).forall { case ((_, max), (min, _)) => min >= max }
  }

  private def bucketsTouched(df: DataFrame): Set[Int] =
    df.inputFiles.flatMap(f =>
      "__bucket=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)).toSet

  test("readSnapshotKeys prunes to exactly the probed keys' buckets and " +
      "matches the full-scan filter") {
    val path = tmp()
    assert(apply(path, (1L to 40L).map(i => (i, 1L, "I", s"v$i")), 0))
    assert(apply(path, Seq((7L, 2L, "U", "V7"), (13L, 2L, "D", null)), 1))
    val m = UpsertSink.readManifest(path).get
    assert(m.buckets.size == B) // 40 keys cover all 8 buckets

    val probes = Seq(7L, 13L, 22L, 999L) // updated, deleted, plain, absent
    val out = UpsertSink.readSnapshotKeys(spark, path, probes)
    // the witness: the plan's input files span ONLY the probed buckets —
    // the routing expression is shared with applyBatch, so recompute the
    // expected set through SQL xxhash64 and compare exactly
    val expectBuckets = spark.sql(
      s"SELECT DISTINCT CAST(pmod(xxhash64(k), $B) AS INT) FROM " +
        s"VALUES ${probes.map(k => s"(CAST($k AS BIGINT))").mkString(",")} t(k)")
      .collect().map(_.getInt(0)).toSet
    assert(bucketsTouched(out) subsetOf expectBuckets)
    assert(bucketsTouched(out).size < B)
    // correctness vs the unpruned read
    val want = UpsertSink.readSnapshot(spark, path)
      .filter($"id".isin(probes: _*))
      .as[(Long, String)].collect().sorted.toSeq
    assert(out.as[(Long, String)].collect().sorted.toSeq === want)
    assert(want.map(_._1) === Seq(7L, 22L) || want.toMap.apply(7L) == "V7")
    assert(!want.exists(_._1 == 13L) && !want.exists(_._1 == 999L))
  }

  test("readSnapshotKeys: keys hashing only to absent buckets return a " +
      "typed empty frame; int probes coerce to the bigint key type") {
    val path = tmp()
    // one key → one bucket; the other 7 buckets never exist
    assert(apply(path, Seq((5L, 1L, "I", "five")), 0))
    val missing = (100L to 140L).filterNot { k =>
      spark.sql(s"SELECT pmod(xxhash64(CAST($k AS BIGINT)), $B)")
        .head().getLong(0) ==
        spark.sql(s"SELECT pmod(xxhash64(CAST(5 AS BIGINT)), $B)")
          .head().getLong(0)
    }.take(3)
    val out = UpsertSink.readSnapshotKeys(spark, path, missing)
    assert(out.columns.toSeq === Seq("id", "v") && out.count() == 0)
    // an Int probe casts to the manifest's BIGINT key type before
    // hashing — same bucket, same row, no silent type-mismatch miss
    val hit = UpsertSink.readSnapshotKeys(spark, path, Seq(5))
    assert(hit.as[(Long, String)].collect().toSeq === Seq((5L, "five")))
  }

  test("readSnapshotKeys(DataFrame) semi-joins a distributed probe set " +
      "over the pruned buckets, deduplicating probes") {
    val path = tmp()
    assert(apply(path, (1L to 40L).map(i => (i, 1L, "I", s"v$i")), 0))
    val probes = Seq(3L, 3L, 11L, 999L).toDF("id") // dup + absent
    val out = UpsertSink.readSnapshotKeys(spark, path, probes)
    assert(out.as[(Long, String)].collect().sorted.toSeq ===
      Seq((3L, "v3"), (11L, "v11")))
    assert(bucketsTouched(out).size < B)
    // probe column must exist under the manifest's key name
    val err = intercept[IllegalArgumentException] {
      UpsertSink.readSnapshotKeys(spark, path, Seq(1L).toDF("wrong"))
    }
    assert(err.getMessage.contains("no 'id' column"))
  }

  test("readSnapshotKeys refuses a legacy manifest with no recorded " +
      "layout (nothing to route probes with)") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    // rewrite the manifest as a pre-contract store would have written it
    val mdir = java.nio.file.Paths.get(path, "_manifest")
    import scala.jdk.CollectionConverters._
    val mfile = java.nio.file.Files.list(mdir).iterator().asScala.toList
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("m") && n.endsWith(".json")).head
    val txt = new String(java.nio.file.Files.readAllBytes(
      mdir.resolve(mfile)), "UTF-8")
    val legacy = txt.replaceAll(
      """"numBuckets":\d+,"key":"[^"]*","schema":"[^"]*",""", "")
    java.nio.file.Files.write(mdir.resolve(mfile), legacy.getBytes("UTF-8"))
    // the NIO rewrite bypassed Hadoop's local-FS checksum sidecar
    java.nio.file.Files.deleteIfExists(mdir.resolve(s".$mfile.crc"))
    assert(!UpsertSink.readManifest(path).get.hasLayout)
    val err = intercept[IllegalArgumentException] {
      UpsertSink.readSnapshotKeys(spark, path, Seq(1L))
    }
    assert(err.getMessage.contains("legacy manifest"))
  }

  test("readChanges diffs only the buckets the intervening batches " +
      "touched, and classifies insert/update/delete with post-images") {
    val path = tmp()
    assert(apply(path, (1L to 40L).map(i => (i, 1L, "I", s"v$i")), 0))
    // batch 1 touches ONE key → the feed must read one bucket per side
    assert(apply(path, Seq((7L, 2L, "U", "V7")), 1))
    val feed = UpsertSink.readChanges(spark, path, 0, 1)
    assert(feed.columns.toSeq === Seq("id", "_change_type", "v"))
    assert(feed.as[(Long, String, String)].collect().toSeq ===
      Seq((7L, "update", "V7")))
    val b7 = spark.sql(s"SELECT CAST(pmod(xxhash64(CAST(7 AS BIGINT)), $B) AS INT)")
      .head().getInt(0)
    assert(bucketsTouched(feed) === Set(b7)) // 39 settled keys: unread

    // batch 2: one delete, one insert — and version asks CLAMP (99 → 2)
    assert(apply(path, Seq((13L, 3L, "D", null), (99L, 3L, "I", "v99")), 2))
    val feed2 = UpsertSink.readChanges(spark, path, 1, 99)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(feed2 === Seq((13L, "delete", null), (99L, "insert", "v99")))
    // full-range feed composes both batches; key 7's two hops collapse
    // to one update row against v0
    val all = UpsertSink.readChanges(spark, path, 0, 2)
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(all === Seq((7L, "update", "V7"), (13L, "delete", null),
      (99L, "insert", "v99")))
    assert(UpsertSink.readChanges(spark, path, 2, 2).count() == 0)
    val err = intercept[IllegalArgumentException] {
      UpsertSink.readChanges(spark, path, 2, 1)
    }
    assert(err.getMessage.contains("fromVersion"))
  }

  test("readChanges is layout-blind: a compaction between the endpoints " +
      "repoints buckets without contributing rows") {
    val path = tmp()
    assert(apply(path, (1L to 20L).map(i => (i, 1L, "I", s"v$i")), 0))
    assert(apply(path, Seq((3L, 2L, "U", "V3")), 1))
    UpsertSink.compactSnapshot(spark, path) // every bucket repoints
    // state diff is still just the one update — the repointed-but-equal
    // buckets read, diff empty, and drop out
    assert(UpsertSink.readChanges(spark, path, 0, 1)
      .as[(Long, String, String)].collect().toSeq ===
      Seq((3L, "update", "V3")))
    // same-version feed across the apply/compaction manifest pair: empty
    assert(UpsertSink.readChanges(spark, path, 1, 1).count() == 0)
  }

  test("additive schema evolution: a mergeSchema apply widens the " +
      "snapshot, old buckets read typed NULLs, compaction backfills") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a"), (2L, 1L, "I", "b")), 0))
    // widening WITHOUT the flag is refused with the hint
    val strict = intercept[IllegalArgumentException] {
      UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v", "w"), B)(
        Seq((3L, 2L, "I", "c", 30)).toDF("id", "seq", "op", "v", "w"), 1)
    }
    assert(strict.getMessage.contains("mergeSchema"))
    // with it, the batch widens the schema: new column `w` INT
    assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op",
      Seq("v", "w"), B, mergeSchema = true)(
      Seq((3L, 2L, "I", "c", 30), (1L, 2L, "U", "a2", 10))
        .toDF("id", "seq", "op", "v", "w"), 1))
    val m = UpsertSink.readManifest(path).get
    assert(m.schemaDdl.contains("w INT"), m.schemaDdl)
    val snap = UpsertSink.readSnapshot(spark, path)
    assert(snap.columns.toSeq === Seq("id", "v", "w"))
    val rows = snap.as[(Long, String, Option[Int])].collect().sortBy(_._1).toSeq
    // key 2 predates the evolution: its w reads as NULL, no rewrite
    assert(rows === Seq((1L, "a2", Some(10)), (2L, "b", None),
      (3L, "c", Some(30))))
    // later NON-widened applies keep working against the widened DDL
    assert(UpsertSink.applyBatch(spark, path, "id", "seq", "op",
      Seq("v", "w"), B)(
      Seq((4L, 3L, "I", "d", 40)).toDF("id", "seq", "op", "v", "w"), 2))
    // point lookup + changefeed conform across the evolution boundary
    assert(UpsertSink.readSnapshotKeys(spark, path, Seq(2L))
      .as[(Long, String, Option[Int])].collect().toSeq === Seq((2L, "b", None)))
    val feed = UpsertSink.readChanges(spark, path, 0, 2)
      .as[(Long, String, String, Option[Int])].collect().sortBy(_._1).toSeq
    assert(feed === Seq((1L, "update", "a2", Some(10)),
      (3L, "insert", "c", Some(30)), (4L, "insert", "d", Some(40))))
    // compaction merges mixed-era dirs, backfilling NULLs; content stable
    UpsertSink.compactSnapshot(spark, path)
    assert(UpsertSink.readSnapshot(spark, path)
      .as[(Long, String, Option[Int])].collect().sortBy(_._1).toSeq ===
      rows :+ ((4L, "d", Some(40))))
    // historical reads keep their HISTORICAL schema
    assert(UpsertSink.readSnapshotAt(spark, path, 0).columns.toSeq ===
      Seq("id", "v"))
  }

  test("mergeSchema refuses dropped or retyped columns — evolution is " +
      "additive only") {
    val path = tmp()
    assert(apply(path, Seq((1L, 1L, "I", "a")), 0))
    val dropped = intercept[IllegalArgumentException] {
      UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("w"), B,
        mergeSchema = true)(
        Seq((2L, 2L, "I", 20)).toDF("id", "seq", "op", "w"), 1)
    }
    assert(dropped.getMessage.contains("ADDITIVE"), dropped.getMessage)
    val retyped = intercept[IllegalArgumentException] {
      UpsertSink.applyBatch(spark, path, "id", "seq", "op", Seq("v"), B,
        mergeSchema = true)(
        Seq((2L, 2L, "I", 20)).toDF("id", "seq", "op", "v"), 1)
    }
    assert(retyped.getMessage.contains("column types"), retyped.getMessage)
    // the snapshot is untouched by the refused applies
    assert(snap(path) === Seq((1L, "a")))
  }

  test("end-to-end: foreachBatch stream maintains the snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val path = tmp()
    val input = MemoryStream[(Long, Long, String, String)]
    val query = input.toDF().toDF("id", "seq", "op", "v")
      .writeStream
      .foreachBatch(UpsertSink.sink(spark, path, "id", "seq", "op", Seq("v"), B))
      .outputMode("append").start()
    try {
      input.addData((1L, 1L, "I", "a"), (2L, 1L, "I", "b"))
      query.processAllAvailable()
      input.addData((1L, 2L, "U", "a2"), (3L, 1L, "I", "c"))
      query.processAllAvailable()
      input.addData((2L, 2L, "D", null))
      query.processAllAvailable()
      assert(snap(path) === Seq((1L, "a2"), (3L, "c")))
    } finally query.stop()
  }
}
