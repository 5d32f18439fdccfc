package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("withZValue interleaves bucket bits exactly as the local replica") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextDouble() * 200 - 100,
      rnd.nextInt(1000).toDouble))
    val df = rows.toDF("id", "x", "y")
    val bits = 8
    val got = Layout.withZValue(df, Seq("x", "y"), bits)
      .select("id", "z").as[(Long, Long)].collect().toMap
    // local replica
    val (xs, ys) = (rows.map(_._2), rows.map(_._3))
    def bucket(v: Double, lo: Double, up: Double): Long =
      math.min(math.floor((v - lo) / (up - lo) * 255).toLong, 255L)
    def interleave(a: Long, b: Long): Long =
      (0 until bits).map(i =>
        (((a >> i) & 1) << (i * 2)) | (((b >> i) & 1) << (i * 2 + 1))).reduce(_ | _)
    rows.foreach { case (id, x, y) =>
      val want = interleave(bucket(x, xs.min, xs.max), bucket(y, ys.min, ys.max))
      assert(got(id) === want, s"id=$id")
    }
  }

  test("z-locality: rows close in both dimensions share high z-bits") {
    // the z-value's top bits are the coarse cell — equal for same-cell
    // points, different across opposite corners
    val df = Seq((1L, 1.0, 1.0), (2L, 2.0, 2.0), (3L, 999.0, 999.0),
      (4L, 0.0, 0.0), (5L, 1000.0, 1000.0)).toDF("id", "x", "y")
    val z = Layout.withZValue(df, Seq("x", "y"), 8)
      .select("id", "z").as[(Long, Long)].collect().toMap
    assert((z(1L) >> 10) === (z(2L) >> 10)) // same coarse cell
    assert((z(4L) >> 10) !== (z(3L) >> 10)) // opposite corners differ
    assert(z(4L) === 0L && z(5L) === ((1L << 16) - 1)) // extremes
  }

  test("withZValue: one NaN must not poison a dimension's bounds") {
    // Spark orders NaN GREATEST: an unguarded max() would return NaN,
    // the normalizer would be NaN for every row, and least(NaN, hi)
    // would shove EVERY row — healthy values included — into the top
    // bucket, silently killing data skipping on that column
    val df = Seq((1L, 1.0, 10.0), (2L, 2.0, 20.0), (3L, 3.0, Double.NaN))
      .toDF("id", "a", "b")
    val z = Layout.withZValue(df, Seq("a", "b"), bits = 4)
      .select("id", "z").as[(Long, Long)].collect().toMap
    // bounds for b come from the non-NaN rows {10, 20}; a spans {1..3}.
    // Distinct healthy rows must get DISTINCT z-values (not all-top),
    // and the NaN row's b-dimension buckets to 0 like a null.
    assert(z(1L) != z(2L), s"dimension degenerated: $z")
    val zNanExpected = Layout.withZValue(
      Seq((3L, 3.0, null.asInstanceOf[java.lang.Double]))
        .toDF("id", "a", "b").withColumn("b", col("b").cast("double")),
      Seq("a", "b"), bits = 4).select("z").head().getLong(0)
    // the single-row frame's own bounds differ, so compare via the rule,
    // not values: NaN b contributes 0 bits exactly as null b does in a
    // frame with the same a-bounds
    val zOfNan = Layout.withZValue(df, Seq("a", "b"), bits = 4)
      .where($"id" === 3L).select("z").head().getLong(0)
    val zOfNull = Layout.withZValue(
      df.withColumn("b", when($"id" === 3L, lit(null).cast("double"))
        .otherwise($"b")),
      Seq("a", "b"), bits = 4)
      .where($"id" === 3L).select("z").head().getLong(0)
    assert(zOfNan == zOfNull, s"NaN ($zOfNan) and null ($zOfNull) must bucket alike")
    assert(zNanExpected == 0L) // degenerate single-row frame sanity
  }

  test("withZValue: nulls and constant columns bucket to zero; validation") {
    val df = Seq((1L, Some(5.0), 7.0), (2L, None, 7.0), (3L, Some(1.0), 7.0))
      .toDF("id", "x", "c")
    val z = Layout.withZValue(df, Seq("x", "c"), 4)
      .select("id", "z").as[(Long, Long)].collect().toMap
    // c is constant → contributes nothing; null x → bucket 0
    assert(z(2L) === 0L && z(3L) === 0L)
    assert(z(1L) !== 0L) // x=max → bucket 15
    intercept[IllegalArgumentException] { Layout.withZValue(df, Nil, 8) }
    intercept[IllegalArgumentException] { Layout.withZValue(df, Seq("x"), 64) }
    intercept[IllegalArgumentException] {
      Layout.withZValue(df, Seq("x", "c"), 32) // 64 bits > 63
    }
    intercept[IllegalArgumentException] {
      Layout.withZValue(df.withColumnRenamed("c", "z"), Seq("x"), 8)
    }
    val empty = Seq.empty[(Long, Double)].toDF("id", "x")
    assert(Layout.withZValue(empty, Seq("x"), 8).count() === 0L)
  }

  test("zorderBy range-partitions by z and keeps every row, z dropped") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 2000).map(i =>
      (i.toLong, rnd.nextDouble() * 100, rnd.nextDouble() * 100)).toDF("id", "x", "y")
    val out = Layout.zorderBy(df, Seq("x", "y"), bits = 8, numPartitions = 4)
    assert(out.columns.toSeq === Seq("id", "x", "y"))
    assert(out.count() === 2000L)
    // locality effect: per-partition x-range spans must be narrower on
    // average than the global span (the point of the exercise)
    val spans = out.withColumn("p", spark_partition_id())
      .groupBy("p").agg((max("x") - min("x")).as("span"))
      .as[(Int, Double)].collect().map(_._2)
    assert(spans.nonEmpty && spans.min < 100.0 * 0.9, spans.mkString(","))
  }

  test("co-bucketed join + bucket-key aggregate plan ZERO exchanges; " +
      "key-equality filter prunes to one bucket") {
    val wh = java.nio.file.Files.createTempDirectory("graft-bkt-spec").toString
    val left = spark.range(0, 1000)
      .select(($"id" % 200).as("k"), ($"id" * 2).as("lv"))
    val right = spark.range(0, 500)
      .select(($"id" % 200).as("k"), ($"id" + 7).as("rv"))
    Layout.writeBucketed(left, "bkt_left", s"$wh/l", "k", 8, Seq("k"))
    Layout.writeBucketed(right, "bkt_right", s"$wh/r", "k", 8, Seq("k"))
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(bcast)
    spark.conf.set(bcast, "-1")
    try {
      val joined = spark.table("bkt_left")
        .join(spark.table("bkt_right"), "k")
        .groupBy("k").agg(count(lit(1)).as("n"), sum("rv").as("s"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join + bucket-key agg must not shuffle:\n$plan")
      // semantics unchanged vs the plain (shuffled) join
      val plain = left.join(right, "k")
        .groupBy("k").agg(count(lit(1)).as("n"), sum("rv").as("s"))
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(m(joined) == m(plain))
      // bucket pruning: an equality filter on the bucket key reads 1/8.
      // autoBucketedScan must be pinned OFF here — with nothing upstream
      // demanding the bucketed distribution the planner reverts to a
      // plain (splittable) scan and the pruning is lost with it
      val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val priorAuto = spark.conf.get(auto)
      spark.conf.set(auto, "false")
      try {
        val pruned = spark.table("bkt_left").where($"k" === 42)
        val scan = pruned.queryExecution.executedPlan.toString
        assert(scan.contains("SelectedBucketsCount: 1 out of 8"), scan)
        assert(pruned.count() == 5)
      } finally spark.conf.set(auto, priorAuto)
    } finally spark.conf.set(bcast, prior)
  }

  // ---------------------------------------------------------- mergeChanges

  test("mergeChanges applies latest-wins upserts, deletes, and inserts") {
    val snap = Seq((1L, "one", 10), (2L, "two", 20), (3L, "three", 30))
      .toDF("id", "name", "qty")
    val changes = Seq(
      (2L, 5L, "U", "TWO", 22),     // update
      (3L, 1L, "D", null, 0),       // delete
      (4L, 2L, "I", "four", 40),    // insert
      (9L, 7L, "D", null, 0)        // delete of an absent key: no-op
    ).toDF("id", "seq", "op", "name", "qty")
    val got = Layout.mergeChanges(snap, changes, "id", "seq", "op",
        Seq("name", "qty"))
    assert(got.columns.toSeq === Seq("id", "name", "qty"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).toSeq ===
      Seq((1L, "one", 10), (2L, "TWO", 22), (4L, "four", 40)))
  }

  test("mergeChanges: highest sequence wins per key, both conflict orders") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val changes = Seq(
      (1L, 1L, "D", null), (1L, 2L, "U", "a2"), // delete then update: update wins
      (2L, 2L, "D", null), (2L, 1L, "U", "b2"), // update then delete: delete wins
      (3L, 1L, "I", "c1"), (3L, 3L, "U", "c3"), (3L, 2L, "D", null) // churn: U@3 wins
    ).toDF("id", "seq", "op", "v")
    val got = Layout.mergeChanges(snap, changes, "id", "seq", "op", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "a2"), (3L, "c3")))
  }

  test("mergeChanges validation and one-shuffle-per-side plan") {
    val snap = Seq((1L, "a")).toDF("id", "v")
    val changes = Seq((1L, 1L, "U", "x")).toDF("id", "seq", "op", "v")
    intercept[IllegalArgumentException] {
      Layout.mergeChanges(snap, changes, "id", "seq", "op", Nil)
    }
    intercept[IllegalArgumentException] {
      Layout.mergeChanges(snap, changes, "id", "seq", "op", Seq("id"))
    }
    intercept[IllegalArgumentException] { // missing op column in changes
      Layout.mergeChanges(snap, changes.drop("op"), "id", "seq", "op", Seq("v"))
    }
    intercept[IllegalArgumentException] { // payload absent from snapshot
      Layout.mergeChanges(snap.drop("v"), changes, "id", "seq", "op", Seq("v"))
    }
    // winner selection must be a partial aggregate, not a window sort;
    // and (r15) the whole merge is ONE exchange over the candidate
    // union — no join, no second shuffle
    val plan = Layout.mergeChanges(snap, changes, "id", "seq", "op", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"winner selection planned a window:\n$plan")
    assert(!plan.contains("Join"), s"merge planned a join:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"merge planned $exchanges exchanges (want 1):\n$plan")
  }

  test("compact merges small files per leaf dir, preserves content and pruning") {
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val df = (1L to 2000L).map(i => (i, (i % 4).toInt, s"v$i")).toDF("id", "p", "v")
    df.repartition(25).write.partitionBy("p").parquet(base) // ~25 frags per dir
    val before = spark.read.parquet(base)
      .select("id", "p", "v").as[(Long, Int, String)].collect().sorted.toSeq

    val stats = Layout.compact(spark, base, parallelism = 2)
    assert(stats.dirsScanned == 4 && stats.dirsCompacted == 4, stats.toString)
    assert(stats.filesBefore > stats.filesAfter && stats.filesAfter == 4,
      stats.toString) // tiny dirs → exactly one file each
    val after = spark.read.parquet(base)
    assert(after.select("id", "p", "v").as[(Long, Int, String)]
      .collect().sorted.toSeq === before)
    // the partitioned layout still prunes at the file listing
    val plan = after.where($"p" === 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p"), plan)
    // a healthy table (1 file per dir now) is left alone
    val stats2 = Layout.compact(spark, base)
    assert(stats2.dirsScanned == 4 && stats2.dirsCompacted == 0)
    // dirs whose files already average >= targetBytes/2 are skipped too
    val statsTiny = Layout.compact(spark, base, targetBytes = 2)
    assert(statsTiny.dirsCompacted == 0)
    intercept[IllegalArgumentException] {
      Layout.compact(spark, base, targetBytes = 0)
    }
    intercept[IllegalArgumentException] {
      Layout.compact(spark, base + "/definitely-missing")
    }
  }

  test("compact: a dir holding BOTH files and partition subdirs compacts " +
      "only its own files — child rows are neither absorbed nor duplicated") {
    val base = java.nio.file.Files.createTempDirectory("graft-compact3").toString + "/t"
    // parent-level fragments
    Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("id", "v")
      .repartition(3).write.parquet(base)
    // a child partition dir alongside them (the mixed layout some
    // writers leave behind)
    Seq((10L, "c1"), (11L, "c2")).toDF("id", "v")
      .repartition(2).write.parquet(base + "/extra=1")
    val before = spark.read.option("basePath", base).parquet(base)
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq
    val stats = Layout.compact(spark, base)
    assert(stats.dirsCompacted == 2, stats.toString) // parent AND child
    val after = spark.read.option("basePath", base).parquet(base)
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq
    assert(after === before, s"rows changed: $after vs $before")
  }

  test("compact ignores sidecar dirs and recovers from a stale staging dir") {
    val base = java.nio.file.Files.createTempDirectory("graft-compact2").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
      .repartition(4).write.parquet(base)
    // a sidecar dir (the _graft_centroids convention) must not be touched
    val side = new java.io.File(base, "_graft_side"); side.mkdirs()
    val marker = new java.io.File(side, "keep.txt")
    java.nio.file.Files.write(marker.toPath, "x".getBytes)
    // a stale staging dir from a crashed pass must not poison the re-run
    val stale = new java.io.File(base, ".graft_compact_tmp"); stale.mkdirs()
    java.nio.file.Files.write(new java.io.File(stale, "junk").toPath, "y".getBytes)

    val stats = Layout.compact(spark, base)
    assert(stats.dirsCompacted == 1 && stats.filesAfter == 1)
    assert(marker.exists, "sidecar dir was touched")
    assert(!stale.exists, "stale staging dir should be cleaned by the pass")
    assert(spark.read.parquet(base).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("compact crash recovery: a committed swap marker is completed by the " +
      "next pass with no row lost, duplicated, or left invisible") {
    val base = java.nio.file.Files.createTempDirectory("graft-compact4").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
      .repartition(4).write.parquet(base)
    val want = spark.read.parquet(base)
      .as[(Long, String)].collect().sorted.toSeq

    // fabricate the exact post-commit crash state: staged files written,
    // marker recorded (nonce + delete set), NO rename/delete happened
    val dir = new java.io.File(base)
    val originals = dir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val staging = new java.io.File(base, ".graft_compact_tmp")
    spark.read.parquet(originals.map(_.getPath).toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(staging.getPath)
    val marker = new java.io.File(base, ".graft_compact_swap")
    java.nio.file.Files.write(marker.toPath,
      ("cafebabe" +: originals.map(_.getName).toSeq).mkString("\n").getBytes)

    // the next pass recovers FIRST (completes the swap), then finds one
    // healthy file and has nothing left to compact
    val stats = Layout.compact(spark, base)
    assert(stats.dirsCompacted == 0, stats.toString)
    assert(!marker.exists && !staging.exists)
    val got = spark.read.parquet(base).as[(Long, String)].collect().sorted.toSeq
    assert(got === want, s"rows changed across recovery: $got")
    val names = dir.listFiles().filter(_.isFile).map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(names.forall(_.startsWith("graft-compact-cafebabe-")), names.toSeq)

    // and the PARTIALLY-completed variant: one staged file already
    // renamed in, one original already deleted — recovery finishes the rest
    val originals2 = names
    spark.read.parquet(base).coalesce(1)
      .write.mode("overwrite").parquet(staging.getPath)
    java.nio.file.Files.write(marker.toPath,
      ("beef" +: originals2.toSeq).mkString("\n").getBytes)
    // simulate: delete one original (as if the crashed pass got that far)
    java.nio.file.Files.delete(new java.io.File(base, originals2.head).toPath)
    val stats2 = Layout.compact(spark, base)
    assert(stats2.dirsCompacted == 0)
    val got2 = spark.read.parquet(base).as[(Long, String)].collect().sorted.toSeq
    assert(got2 === want, s"rows changed across partial recovery: $got2")
  }

  test("partitioned-tree compaction under concurrent reads: a reader " +
      "NEVER sees doubled rows (the dir-swap closes the in-place window)") {
    val base = java.nio.file.Files.createTempDirectory("graft-cswap").toString + "/t"
    val total = 4000L
    (1L to total).map(i => (i, (i % 4).toInt, s"v$i" * 10)).toDF("id", "p", "v")
      .repartition(30).write.partitionBy("p").parquet(base)

    @volatile var compactError: Throwable = null
    val writer = new Thread(() => {
      try {
        val stats = Layout.compact(spark, base, parallelism = 4)
        assert(stats.dirsCompacted == 4, stats.toString)
      } catch { case t: Throwable => compactError = t }
    })
    writer.start()
    var reads, transientMisses = 0
    try {
      while (writer.isAlive) {
        // a read can fail LOUDLY (FileNotFound: planned before a swap,
        // read after) or land in the two-rename absence window — both
        // are the documented loud/absent races. What must NEVER happen
        // is a count ABOVE the true total: doubled rows are silent
        // corruption, and the whole point of the dir-swap.
        try {
          val n = spark.read.parquet(base).count()
          assert(n <= total, s"read $reads saw $n rows of $total: DOUBLED")
          if (n < total) transientMisses += 1
        } catch { case _: org.apache.spark.SparkException |
                       _: java.io.FileNotFoundException |
                       _: org.apache.spark.sql.AnalysisException =>
                    transientMisses += 1 }
        reads += 1
      }
    } finally writer.join()
    assert(compactError == null, String.valueOf(compactError))
    assert(reads > 0)
    // the settled tree reads exactly once each
    assert(spark.read.parquet(base).count() == total)
    assert(spark.read.parquet(base).select("id").distinct().count() == total)
  }

  test("dirswap crash recovery: committed markers complete forward, " +
      "uncommitted staging discards, sidecars survive") {
    val base = java.nio.file.Files.createTempDirectory("graft-cswap2").toString + "/t"
    (1L to 100L).map(i => (i, (i % 2).toInt, s"v$i")).toDF("id", "p", "v")
      .repartition(8).write.partitionBy("p").parquet(base)
    val want = spark.read.parquet(base)
      .select("id", "p", "v").as[(Long, Int, String)].collect().sorted.toSeq
    val leaf = new java.io.File(base, "p=0")
    // a sidecar the swap must carry across
    val side = new java.io.File(leaf, "_graft_side"); side.mkdirs()
    java.nio.file.Files.write(new java.io.File(side, "keep.txt").toPath,
      "x".getBytes)

    // fabricate the post-commit crash: staged replacement written as a
    // hidden sibling, marker committed, NO rename happened yet
    val stage = new java.io.File(base, ".graft_dirswap_stage_deadbeef")
    spark.read.parquet(leaf.getPath).coalesce(1)
      .write.mode("overwrite").parquet(stage.getPath)
    java.nio.file.Files.write(
      new java.io.File(base, ".graft_dirswap_commit_deadbeef").toPath,
      "p=0".getBytes)
    // and an UNCOMMITTED stray from a different crashed pass
    val stray = new java.io.File(base, ".graft_dirswap_stage_0ddba11")
    stray.mkdirs()
    java.nio.file.Files.write(new java.io.File(stray, "junk").toPath, "y".getBytes)

    // the next pass recovers FIRST: the committed swap completes (leaf
    // becomes the staged single file), the stray discards, the sidecar
    // rides along; then p=0 is healthy and only p=1 still compacts
    val stats = Layout.compact(spark, base)
    assert(stats.dirsCompacted == 1, stats.toString)
    assert(!stray.exists, "uncommitted staging dir survived")
    assert(!new java.io.File(base, ".graft_dirswap_commit_deadbeef").exists)
    assert(new java.io.File(side, "keep.txt").exists, "sidecar lost in swap")
    val dataFiles = leaf.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles.length == 1, dataFiles.map(_.getName).toSeq.toString)
    val got = spark.read.parquet(base)
      .select("id", "p", "v").as[(Long, Int, String)].collect().sorted.toSeq
    assert(got === want, "rows changed across dirswap recovery")
  }

  test("dirswap crash-state enumeration: recovery from EVERY protocol " +
      "stage lands on exactly the old or the new content, never loss") {
    // the protocol's observable stages (see Layout scaladoc):
    //   1 pre-marker        (staged sibling only)          -> OLD content
    //   2 post-marker       (marker, nothing moved)        -> NEW content
    //   3 post-sidecar-move (marker, sidecars staged)      -> NEW content
    //   4 between renames   (marker, leaf ABSENT)          -> NEW content
    //   5 post-rename-in    (marker, old dir lingering)    -> NEW content
    //   6 post-old-delete   (marker only)                  -> NEW content
    for (stage <- 1 to 6) {
      val base = java.nio.file.Files.createTempDirectory(s"graft-cs$stage")
        .toString + "/t"
      (1L to 40L).map(i => (i, (i % 2).toInt, s"old$i")).toDF("id", "p", "v")
        .repartition(4).write.partitionBy("p").parquet(base)
      val leaf = new java.io.File(base, "p=1")
      val side = new java.io.File(leaf, "_graft_side"); side.mkdirs()
      java.nio.file.Files.write(new java.io.File(side, "k.txt").toPath,
        "x".getBytes)
      val oldRows = spark.read.parquet(base)
        .select("id", "p", "v").as[(Long, Int, String)].collect().sorted.toSeq
      // the staged REPLACEMENT rewrites p=1's rows (marked payloads so
      // old-vs-new content is distinguishable)
      val stagedDf = spark.read.parquet(leaf.getPath)
        .withColumn("v", concat(lit("NEW"), col("v")))
      val newRows = oldRows.map { case (i, p, v) =>
        (i, p, if (p == 1) s"NEW$v" else v) }

      val stageDir = new java.io.File(base, ".graft_dirswap_stage_cafe")
      val oldDir = new java.io.File(base, ".graft_dirswap_old_cafe")
      val marker = new java.io.File(base, ".graft_dirswap_commit_cafe")
      stagedDf.coalesce(1).write.mode("overwrite").parquet(stageDir.getPath)
      def commitMarker(): Unit = java.nio.file.Files.write(marker.toPath,
        "p=1".getBytes)
      stage match {
        case 1 => // staged only: nothing committed
        case 2 => commitMarker()
        case 3 => commitMarker()
          java.nio.file.Files.move(side.toPath,
            new java.io.File(stageDir, "_graft_side").toPath)
        case 4 => commitMarker()
          java.nio.file.Files.move(side.toPath,
            new java.io.File(stageDir, "_graft_side").toPath)
          org.apache.commons.io.FileUtils.moveDirectory(leaf, oldDir)
        case 5 => commitMarker()
          java.nio.file.Files.move(side.toPath,
            new java.io.File(stageDir, "_graft_side").toPath)
          org.apache.commons.io.FileUtils.moveDirectory(leaf, oldDir)
          org.apache.commons.io.FileUtils.moveDirectory(stageDir, leaf)
        case 6 => commitMarker()
          java.nio.file.Files.move(side.toPath,
            new java.io.File(stageDir, "_graft_side").toPath)
          org.apache.commons.io.FileUtils.moveDirectory(leaf, oldDir)
          org.apache.commons.io.FileUtils.moveDirectory(stageDir, leaf)
          org.apache.commons.io.FileUtils.deleteDirectory(oldDir)
      }

      // the next compact() pass recovers FIRST; p=0 may then compact
      Layout.compact(spark, base)
      val got = spark.read.parquet(base)
        .select("id", "p", "v").as[(Long, Int, String)].collect().sorted.toSeq
      val want = if (stage == 1) oldRows else newRows
      assert(got === want, s"stage $stage diverged")
      // protocol artifacts all cleaned, sidecar survived on every path
      assert(!marker.exists && !stageDir.exists && !oldDir.exists,
        s"stage $stage left artifacts")
      assert(new java.io.File(leaf, "_graft_side/k.txt").exists,
        s"stage $stage lost the sidecar")
    }
  }

  test("mergeChanges rejects a NULL op loudly instead of mangling it") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // NULL op on an existing key AND on a new key — both malformed
    val changes = Seq((1L, 1L, null: String, "x"), (9L, 1L, null: String, "y"))
      .toDF("id", "seq", "op", "v")
    val e = intercept[Exception] {
      Layout.mergeChanges(snap, changes, "id", "seq", "op", Seq("v")).collect()
    }
    // Spark wraps raise_error; the message must name the column and key
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("NULL op")),
      s"expected a NULL-op failure, got: ${msgs(e).mkString(" | ")}")
  }

  test("mergeChanges rejects a NULL change key (it would emit a phantom row)") {
    val snap = Seq((1L, "a")).toDF("id", "v")
    val changes = Seq((java.lang.Long.valueOf(1L), 1L, "U", "x"),
      (null.asInstanceOf[java.lang.Long], 2L, "U", "y"))
      .toDF("id", "seq", "op", "v")
    val e = intercept[Exception] {
      Layout.mergeChanges(snap, changes, "id", "seq", "op", Seq("v")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("NULL id")),
      s"expected a NULL-key failure, got: ${msgs(e).mkString(" | ")}")
  }

  test("mergeChanges rejects a snapshot with a duplicated key instead of collapsing it") {
    // a keyed snapshot holds at most one row per key; max(__cand) would
    // silently fold the duplicates into one row
    val snap = Seq((1L, "a"), (1L, "a-dup"), (2L, "b")).toDF("id", "v")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // with or without a change on the duplicated key
    for (changes <- Seq(Seq((3L, 1L, "I", "c")), Seq((1L, 1L, "U", "a2")))) {
      val merged = Layout.mergeChanges(snap, changes.toDF("id", "seq", "op", "v"),
        "id", "seq", "op", Seq("v"))
      // the guard rides the winner aggregate: still ONE exchange
      val plan = merged.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges == 1, s"merge planned $exchanges exchanges (want 1):\n$plan")
      val e = intercept[Exception](merged.collect())
      assert(msgs(e).exists(_.contains("mergeChanges: duplicate id 1 in the snapshot")),
        s"expected a duplicate-key failure, got: ${msgs(e).mkString(" | ")}")
    }
    // a clean snapshot still merges
    val ok = Layout.mergeChanges(snap.where($"v" =!= "a-dup"),
      Seq((1L, 1L, "U", "a2")).toDF("id", "seq", "op", "v"), "id", "seq", "op", Seq("v"))
    assert(ok.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ===
      Seq((1L, "a2"), (2L, "b")))
  }
}
