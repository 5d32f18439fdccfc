package graft

import graft.operators.{Dedup, SpatialJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale smoke: replicates the test tables past sf0.1 (6M lineitem rows,
  * 300k×10k spatial join, 50k-doc dedup) to observe that plans hold their
  * shape and runtime grows linearly — the local stand-in for the 100 TB
  * design review. Run: `sbt "runMain graft.ScaleSmoke"`. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.init(spark, "/root/testdata/sf0.1")
    // optional section filter: `runMain graft.ScaleSmoke IVF,dup` runs only
    // the sections whose label contains any comma-separated substring
    val only = args.headOption.getOrElse("").split(',')
    def willTime(labels: String*): Boolean =
      only.exists(o => labels.exists(_.contains(o)))
    def time[T](label: String)(f: => T): Unit = {
      if (willTime(label)) {
        val t0 = System.nanoTime(); val r = f
        println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s → $r")
      }
    }

    // 6M-row aggregate (10× lineitem)
    val li = spark.table("lineitem")
    val li10 = (1 to 10).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L)))
      .reduce(_ union _)
    time("agg over 10x lineitem (6M rows)") {
      li10.groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)), sum("l_quantity")).collect().length
    }

    // one more decade: 60M rows
    val li100 = (1 to 100).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L)))
      .reduce(_ union _)
    time("agg over 100x lineitem (60M rows)") {
      li100.groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)), sum("l_quantity")).collect().length
    }

    // 300k × 10k grid distance join
    val cust = spark.sql(
      "SELECT c_custkey, ST_Point(c_acctbal / 100.0, CAST(c_custkey % 97 AS DOUBLE)) AS cgeom FROM customer")
    val cust20 = (1 to 20).map(i => cust.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L)))
      .reduce(_ union _)
    val supp = spark.sql(
      "SELECT s_suppkey, ST_Point(s_acctbal / 100.0, CAST(s_suppkey % 97 AS DOUBLE)) AS sgeom FROM supplier")
    val supp10 = (1 to 10).map(i => supp.withColumn("s_suppkey", col("s_suppkey") + lit(i * 10000000L)))
      .reduce(_ union _)
    time("grid distance join 300k x 10k") {
      SpatialJoin.distanceJoin(cust20, "cgeom", supp10, "sgeom", 2.0, 2.0).count()
    }

    // 50k-doc minhash dedup. NOTE: the first execution of each distinct
    // candidate-join shape pays ~10× in whole-stage-codegen JIT (measured
    // 371 s cold vs 31 s warm on the same cached buckets) — warm up each
    // shape on a small corpus first so the timings measure the operator.
    val docs = spark.table("documents")
    val docs10 = (1 to 10).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        concat(col("text"), lit(s" v$i")).as("text"))).reduce(_ union _)
    // the warmup must fire whenever ANY timed section of its family will
    // run — gating on the family name alone would leave a focused filter
    // run (e.g. `ScaleSmoke 50k`) timing cold-JIT executions
    if (willTime("minhash pairs over 50k docs",
        "minhash over 55k docs with 5k-identical hot bucket, saltCap=0",
        "minhash over 55k docs with 5k-identical hot bucket, saltCap=512")) {
      Dedup.minhashPairs(docs, "doc_id", "text", 5, 128, 32, 0.8).count()
      Dedup.minhashPairs(docs, "doc_id", "text", 5, 128, 32, 0.8, saltCap = 512).count()
    }
    time("minhash pairs over 50k docs") {
      Dedup.minhashPairs(docs10, "doc_id", "text", 5, 128, 32, 0.8).count()
    }

    // Benchmark decontamination at corpus scale: 50k docs against a
    // 250-doc eval set. The eval set's distinct 8-grams broadcast; the
    // corpus explodes n-grams map-side and only hit rows shuffle — cost
    // should scale with the corpus scan, not with corpus × benchmark.
    if (willTime("decontaminate 5k docs vs 250-doc benchmark",
        "decontaminate 50k docs vs 250-doc benchmark")) {
      // JIT warmup for the explode + broadcast-join shape (see minhash note)
      graft.operators.TextAnalysis.decontaminate(
        docs.limit(500), docs.where(col("doc_id") % 20 === 0), "doc_id", "text").count()
    }
    time("decontaminate 5k docs vs 250-doc benchmark") {
      graft.operators.TextAnalysis.decontaminate(
        docs, docs.where(col("doc_id") % 20 === 0), "doc_id", "text").count()
    }
    time("decontaminate 50k docs vs 250-doc benchmark") {
      graft.operators.TextAnalysis.decontaminate(
        docs10, docs.where(col("doc_id") % 20 === 0), "doc_id", "text").count()
    }

    // Incremental admission against a frozen snapshot: per-batch cost must
    // track the BATCH (bloom misses pass join-free, rare hits confirm via
    // broadcast probes), with the corpus contributing only map-side scans.
    def batchFrom(c: org.apache.spark.sql.DataFrame) =
      c.limit(250).select((col("doc_id") + 77000000L).as("doc_id"), col("text"))
        .union(c.limit(250).select((col("doc_id") + 78000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text")))
    if (willTime("dropSeen 500-doc batch vs 5k corpus",
        "dropSeen 500-doc batch vs 50k corpus")) {
      Dedup.dropSeen(batchFrom(docs).limit(50), docs.limit(500), "text").count()
    }
    time("dropSeen 500-doc batch vs 5k corpus") {
      Dedup.dropSeen(batchFrom(docs), docs, "text").count()
    }
    time("dropSeen 500-doc batch vs 50k corpus") {
      Dedup.dropSeen(batchFrom(docs10), docs10, "text").count()
    }

    // Frozen minhash index: the signature pass runs ONCE at freeze time;
    // each batch then probes with broadcast-only joins. The probe row is
    // the serving cost; the direct union join row is what it replaces
    // (re-signaturing + re-bucketing the corpus per batch).
    val idxRoot = java.nio.file.Files.createTempDirectory("smoke_mhidx").toString
    if (willTime("minhash index build, 50k docs",
        "index probe, 500-doc batch vs 50k index",
        "direct union minhash for the same batch (what the index avoids)")) {
      Dedup.writeMinhashIndex(docs.limit(500), "doc_id", "text", s"$idxRoot/warm")
      Dedup.nearDupsAgainstIndex(batchFrom(docs).limit(50), "doc_id", "text",
        s"$idxRoot/warm", 0.8).count()
    }
    time("minhash index build, 50k docs") {
      Dedup.writeMinhashIndex(docs10, "doc_id", "text", s"$idxRoot/big"); "built"
    }
    time("index probe, 500-doc batch vs 50k index") {
      Dedup.nearDupsAgainstIndex(batchFrom(docs10), "doc_id", "text", s"$idxRoot/big", 0.8).count()
    }
    time("direct union minhash for the same batch (what the index avoids)") {
      // cross pairs only (id_a < batch base ≤ id_b) — the index path by
      // construction reports no batch-internal pairs
      Dedup.minhashPairs(docs10.union(batchFrom(docs10)), "doc_id", "text", 5, 128, 32, 0.8)
        .where(col("id_a") < 77000000L && col("id_b") >= 77000000L).count()
    }

    // Hot-bucket skew: 5k identical boilerplate docs land every band in ONE
    // bucket (12.5M intra-bucket pairs → 800M generated join rows). With AQE
    // on, the skew-join split already spreads the hot partition; saltCap
    // spreads it deterministically at the cost of the replication join.
    val boiler = spark.range(5000)
      .select((col("id") + 90000000L).as("doc_id"),
        lit("this exact boilerplate footer appears on every page of the site world wide").as("text"))
    val skewed = docs10.union(boiler)
    time("minhash over 55k docs with 5k-identical hot bucket, saltCap=0") {
      Dedup.minhashPairs(skewed, "doc_id", "text", 5, 128, 32, 0.8).count()
    }
    time("minhash over 55k docs with 5k-identical hot bucket, saltCap=512") {
      Dedup.minhashPairs(skewed, "doc_id", "text", 5, 128, 32, 0.8, saltCap = 512).count()
    }

    // Distributed connected components at graph scale: 5M edges as 5k
    // chains of length 1000 — deep chains are pointer jumping's worst case
    // (~log2(1000) ≈ 10 rounds). The vertex-program loop builds the
    // adjacency once; each round moves only label blocks.
    time("clustering 5M-edge graph (5k chains x 1000)") {
      val pairs = spark.range(5000000L)
        .where(pmod(col("id"), lit(1000)) =!= 999) // break chains every 1000
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val labels = Dedup.clusters(pairs, maxIterations = 30, smallGraphThreshold = 0)
      // every member of chain k must label to its head 1000k
      labels.where(col("cluster") =!= (col("id") - pmod(col("id"), lit(1000)))).count() match {
        case 0L => s"${labels.count()} nodes labeled, all correct"
        case n  => throw new AssertionError(s"$n mislabeled nodes")
      }
    }

    // Weighted shortest paths at the same 5M-edge graph scale: chain
    // weights are deterministic, every node's distance from its chain
    // head is an exact integer sum — verifies the Bellman-Ford loop's
    // frontier discipline AND its answer at 5M edges. Sources = every
    // chain head; 12 rounds reach depth 12 of each 1000-chain (the
    // frontier is 5k × active-depth rows — rounds stay cheap).
    time("shortestPaths 5M-edge graph (5k chains x 1000, 12 rounds)") {
      val pairs = spark.range(5000000L)
        .where(pmod(col("id"), lit(1000)) =!= 999)
        .select(col("id").as("src"), (col("id") + 1).as("dst"),
          (pmod(col("id"), lit(7)) + 1).cast("double").as("w"))
      val sources = spark.range(5000L).select((col("id") * 1000L).as("node"))
      val dist = operators.Graphs.shortestPaths(pairs, "src", "dst", "w",
        sources, "node", maxIter = 12)
      // node h + k (k <= 12) sits at dist = sum of w over the k chain
      // edges before it — replayable as a closed form per node
      val bad = dist
        .select(col("node").cast("long").as("n"), col("dist"))
        .withColumn("k", pmod(col("n"), lit(1000L)))
        // k = 0 (a chain head) must be 0.0 — sequence(n, n-1) would
        // DESCEND in Spark, not come back empty
        .withColumn("want", expr(
          "IF(k = 0, CAST(0.0 AS DOUBLE), " +
            "aggregate(sequence(n - k, n - 1), CAST(0.0 AS DOUBLE), " +
            "(acc, i) -> acc + CAST(pmod(i, 7) + 1 AS DOUBLE)))"))
        .where(col("dist") =!= col("want")).count()
      val n = dist.count()
      operators.Dedup.releaseFrame(dist)
      if (bad != 0L) throw new AssertionError(s"$bad wrong distances")
      s"$n nodes reached (5k chains x depth 12 + heads), all distances exact"
    }

    // Label propagation at 3M edges of planted triangles: after round 1
    // each triangle {3k, 3k+1, 3k+2} carries labels (3k+1, 3k, 3k) (ties
    // break to the min label), and round 2 collapses all three to 3k —
    // a closed-form invariant at scale, no brute-force reference needed.
    // (A 2-clique graph would NOT work: synchronous LPA oscillates on
    // bipartite structure — pairs swap labels every round.)
    // Node ids zero-pad to 7 digits: labels are STRINGS and the min-label
    // tiebreak is string order, so "1000000" < "999999" would flip the
    // min inside the 6 triangles that straddle a power of ten (measured:
    // exactly 18 nodes off with raw ids) — padding makes string order =
    // numeric order, keeping the closed-form invariant exact.
    time("labelPropagation 3M-edge triangle graph, 2 rounds") {
      val base = spark.range(1000000L).select((col("id") * 3).as("a"))
      def pad(c: org.apache.spark.sql.Column) = format_string("%07d", c)
      val pairs = base.select(pad(col("a")).as("src"), pad(col("a") + 1).as("dst"))
        .union(base.select(pad(col("a") + 1).as("src"), pad(col("a") + 2).as("dst")))
        .union(base.select(pad(col("a")).as("src"), pad(col("a") + 2).as("dst")))
      val labels = operators.Graphs.labelPropagation(pairs, "src", "dst", rounds = 2)
      val bad = labels
        .select(col("node").cast("long").as("n"), col("label").cast("long").as("l"))
        .where(col("l") =!= col("n") - pmod(col("n"), lit(3L))).count()
      val n = labels.count()
      operators.Dedup.releaseFrame(labels)
      if (bad != 0L) throw new AssertionError(s"$bad wrong labels")
      s"$n nodes labeled, every triangle collapsed to its min member"
    }

    // Compaction at small-files scale: 1,000 fragments across 4
    // partition dirs (the shape a month of micro-batch appends leaves),
    // merged to 4 files with content verified by full-column checksum.
    time("compact 1000-file partitioned table -> 4") {
      val dir = java.nio.file.Files.createTempDirectory("scale-compact").toString + "/t"
      val df = spark.table("documents")
        .withColumn("p", (col("doc_id") % 4).cast("int"))
      df.repartition(250).write.partitionBy("p").parquet(dir)
      val sumBefore = spark.read.parquet(dir)
        .agg(expr("bit_xor(xxhash64(doc_id, text, p))")).head().getLong(0)
      val stats = operators.Layout.compact(spark, dir, parallelism = 4)
      val sumAfter = spark.read.parquet(dir)
        .agg(expr("bit_xor(xxhash64(doc_id, text, p))")).head().getLong(0)
      if (sumAfter != sumBefore)
        throw new AssertionError(s"content changed: $sumBefore -> $sumAfter")
      if (stats.filesAfter != 4)
        throw new AssertionError(s"expected 4 files, got ${stats.filesAfter}")
      s"${stats.filesBefore} -> ${stats.filesAfter} files across ${stats.dirsCompacted} dirs, checksum stable"
    }

    // CDC sink at delta-dir scale: 16 applied batches fragment a
    // 64-bucket snapshot across 16 delta dirs (the weeks-of-micro-
    // batches shape; batches slice along the sink's own xxhash64 bucket
    // routing so the fragmentation is real, not collapsed by merge
    // rewrites). compactSnapshot merges them behind the atomic manifest
    // swap with content verified by full-column checksum; a mid-stream
    // time-travel read still resolves after the compaction; vacuum
    // reclaims all 16 superseded dirs.
    time("sink compact 16-dir 64-bucket snapshot (50k docs) + time travel") {
      val dir = java.nio.file.Files.createTempDirectory("scale-sink").toString + "/t"
      val sink = graft.streaming.UpsertSink
      val applyB = sink.applyBatch(spark, dir, "doc_id", "seq", "op",
        Seq("text"), 64) _
      val bucketed = docs10.withColumn("__b",
        pmod(xxhash64(col("doc_id")), lit(64)))
      for (i <- 0 until 16) {
        applyB(bucketed.where(col("__b") >= i * 4 && col("__b") < (i + 1) * 4)
          .select(col("doc_id"), lit(1L).as("seq"), lit("I").as("op"),
            col("text")), i.toLong)
      }
      def checksum() = sink.readSnapshot(spark, dir)
        .agg(expr("bit_xor(xxhash64(doc_id, text))")).head().getLong(0)
      val before = checksum()
      val frag = sink.readManifest(dir).get.buckets.values.toSet.size
      if (frag != 16) throw new AssertionError(s"expected 16 delta dirs, got $frag")
      val stats = sink.compactSnapshot(spark, dir)
      if (checksum() != before) throw new AssertionError("content changed")
      val v7 = sink.readSnapshotAt(spark, dir, 7).count() // buckets 0..31
      val full = sink.readSnapshot(spark, dir).count()
      if (v7 >= full) throw new AssertionError(s"v7=$v7 !< full=$full")
      val (vd, _) = sink.vacuum(dir)
      if (vd != 16) throw new AssertionError(s"vacuum reclaimed $vd of 16")
      if (checksum() != before) throw new AssertionError("content changed post-vacuum")
      s"16 delta dirs -> ${stats.dirsCompacted} compacted " +
        s"(${stats.filesBefore} -> ${stats.filesAfter} files), checksum " +
        s"stable, as-of-7 read $v7/$full rows, 16 dirs vacuumed"
    }

    // Incremental-compaction economics (round 14): a settled 50k-doc
    // base plus 6 single-doc micro-batches. Full consolidation
    // (maxDeltaDirs=1) must rewrite the whole snapshot; the streaming
    // default (maxDeltaDirs=4) must touch only the fragments — bytes
    // proportional to the 6 docs, not the base, and the base's manifest
    // entries stay on their dir. This is the maintenance shape that
    // keeps sink(compactEvery) affordable at 100 TB.
    time("sink incremental compaction: 6 fragments over a 50k-doc base") {
      val dir = java.nio.file.Files.createTempDirectory("scale-inc").toString + "/t"
      val sink = graft.streaming.UpsertSink
      val applyB = sink.applyBatch(spark, dir, "doc_id", "seq", "op",
        Seq("text"), 64) _
      applyB(docs10.select(col("doc_id"), lit(1L).as("seq"),
        lit("I").as("op"), col("text")), 0)
      for (i <- 1 to 6) {
        // replica-1 ids (1_000_000 + …) — ids that exist in docs10
        val applied = applyB(docs10.where(col("doc_id") === 1000000L + i * 97)
          .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
            concat(lit("u"), col("text")).as("text")), i.toLong)
        if (!applied) throw new AssertionError(s"fragment batch $i was empty")
      }
      val m = sink.readManifest(dir).get
      val baseDir = "delta/b0"
      val baseBuckets = m.buckets.count(_._2 == baseDir)
      val stats = sink.compactSnapshot(spark, dir, maxDeltaDirs = 4)
      val m2 = sink.readManifest(dir).get
      if (m2.buckets.count(_._2 == baseDir) != baseBuckets)
        throw new AssertionError("incremental compaction touched the base")
      val baseBytes = {
        val p = new org.apache.hadoop.fs.Path(dir, baseDir)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val it = fs.listFiles(p, true)
        var by = 0L
        while (it.hasNext) { val e = it.next(); by += e.getLen }
        by
      }
      if (stats.bytes >= baseBytes / 10)
        throw new AssertionError(
          s"maintenance bytes ${stats.bytes} not << base $baseBytes")
      s"merged ${stats.dirsCompacted} fragment dirs, ${stats.bytes} bytes " +
        s"rewritten vs $baseBytes base bytes untouched " +
        s"(${m2.buckets.values.toSet.size} live dirs after)"
    }

    // Changefeed + point-lookup economics (round 14): over the same
    // settled-base shape, a one-doc commit's changefeed and a 3-key
    // lookup must both read bytes proportional to the TOUCHED buckets
    // (the manifest routes them), leaving the 50k-doc base unopened —
    // the read-side twin of incremental compaction's write-side story.
    time("sink changefeed + point lookup read only touched buckets") {
      val dir = java.nio.file.Files.createTempDirectory("scale-cf").toString + "/t"
      val sink = graft.streaming.UpsertSink
      val applyB = sink.applyBatch(spark, dir, "doc_id", "seq", "op",
        Seq("text"), 64) _
      applyB(docs10.select(col("doc_id"), lit(1L).as("seq"),
        lit("I").as("op"), col("text")), 0)
      applyB(docs10.where(col("doc_id") === 1000097L)
        .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
          concat(lit("u"), col("text")).as("text")), 1)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def bytesOf(files: Array[String]): Long =
        files.map(f => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(f.stripPrefix("file:"))).getLen).sum
      def totalBytes(): Long = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir, "delta"), true)
        var by = 0L
        while (it.hasNext) { val e = it.next()
          if (!e.getPath.getName.startsWith("_")) by += e.getLen }
        by
      }
      val feed = sink.readChanges(spark, dir, 0, 1)
      val feedRows = feed.collect()
      if (feedRows.length != 1 || feedRows.head.getString(1) != "update")
        throw new AssertionError(s"expected 1 update, got ${feedRows.length}")
      val feedBytes = bytesOf(feed.inputFiles)
      val lookup = sink.readSnapshotKeys(spark, dir,
        Seq(1000097L, 2000003L, 999999999L))
      val lookupRows = lookup.count()
      val lookupBytes = bytesOf(lookup.inputFiles)
      val total = totalBytes()
      // 2/64 buckets for the feed (one bucket x two versions), <=3/64
      // for the lookup: an order of magnitude under the full store
      if (feedBytes >= total / 10)
        throw new AssertionError(s"feed read $feedBytes of $total bytes")
      if (lookupBytes >= total / 10)
        throw new AssertionError(s"lookup read $lookupBytes of $total bytes")
      f"feed $feedBytes%,d B / lookup $lookupBytes%,d B of $total%,d B " +
        s"on disk ($lookupRows lookup rows)"
    }

    // Incremental-matview maintenance economics (round 14): against a
    // settled 50k-doc 64-bucket base and an established 5-group view,
    // ONE committed doc must maintain the view reading bytes
    // proportional to the touched buckets/groups — the pruned feed, the
    // pruned group lookup, and the pruned write-back; never a re-read
    // of the base or the view. Measured as ACTUAL task input bytes
    // (SparkListener) across the whole maintenance step.
    time("matview maintenance reads only touched buckets/groups") {
      val root = java.nio.file.Files.createTempDirectory("scale-mv").toString
      val base = root + "/base"; val view = root + "/view"
      val sink = graft.streaming.UpsertSink
      val docsL = (1 to 10).map(i =>
        docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          col("lang"), length(col("text")).cast("long").as("tlen")))
        .reduce(_ union _)
      val applyB = sink.applyBatch(spark, base, "doc_id", "seq", "op",
        Seq("lang", "tlen"), 64) _
      applyB(docsL.select(col("doc_id"), lit(1L).as("seq"),
        lit("I").as("op"), col("lang"), col("tlen")), 0)
      // bootstrap the view — the one intentionally O(base) step
      graft.streaming.MatView.catchUp(spark, base, view, "lang",
        Seq("tlen"), 64)
      applyB(docsL.where(col("doc_id") === 1000097L)
        .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
          col("lang"), (col("tlen") + 100L).as("tlen")), 1)
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val n = graft.streaming.MatView.catchUp(spark, base, view, "lang",
          Seq("tlen"), 64)
        if (n != 1) throw new AssertionError(s"expected 1 catch-up, got $n")
        Thread.sleep(2000) // drain the listener bus
      } finally spark.sparkContext.removeSparkListener(listener)
      def treeBytes(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p, "delta")
        val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
        val it = fs.listFiles(hp, true)
        var by = 0L
        while (it.hasNext) { val e = it.next()
          if (!e.getPath.getName.startsWith("_")) by += e.getLen }
        by
      }
      val total = treeBytes(base) + treeBytes(view)
      if (bytes.get >= total / 10)
        throw new AssertionError(
          s"maintenance read ${bytes.get} of $total bytes on disk")
      val viewRows = graft.streaming.MatView.readView(spark, view)
        .orderBy("lang").collect().toSeq
      val recomputed = sink.readSnapshot(spark, base).groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("tlen").as("tlen"))
        .orderBy("lang").collect().toSeq
      if (viewRows != recomputed)
        throw new AssertionError("view != recomputation")
      f"maintenance read ${bytes.get}%,d B of $total%,d B on disk " +
        s"(${viewRows.size} groups, view == recomputation)"
    }

    // Distributed kNN join (large-Q path): 5k queries against a 20k-vector corpus,
    // nothing collected to the driver.
    val embs = spark.table("embeddings")
    val embs10 = (1 to 10).map(i =>
      embs.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
      .reduce(_ union _)
    time("LSH kNN join 5k queries x 20k corpus") {
      operators.Ann.knnJoinLsh(embs10, "vec_id", "embedding",
        embs10.limit(5000), "vec_id", "embedding", k = 5).count()
    }

    // partition-pruned ANN serving paths over the same 20k-vector corpus
    val q0 = embs.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val vsDir = java.nio.file.Files.createTempDirectory("scale-vs").toString
    time("VectorStorage write 20k bucketed") {
      operators.VectorStorage.writeBucketed(embs10, "embedding", vsDir, planes = 8)
    }
    time("VectorStorage top-10 (pruned read)") {
      operators.VectorStorage.topK(spark, vsDir, "vec_id", "embedding", q0,
        k = 10, planes = 8, probes = 1).count()
    }
    val ivfDir = java.nio.file.Files.createTempDirectory("scale-ivf").toString
    time("IVF train+write 20k, k=64") {
      operators.Ivf.writeIndexed(embs10, "vec_id", "embedding", ivfDir, k = 64, maxIter = 5)
    }
    time("IVF top-10 (nprobe=4)") {
      operators.Ivf.topK(spark, ivfDir, "vec_id", "embedding", q0, k = 10, nprobe = 4).count()
    }

    // Serving at 10× the corpus (200k vectors): the pruned probe must stay
    // FLAT while the write pass scales linearly — the claim that makes
    // bucket-partitioned layouts the 100 TB serving path. Same planes /
    // nprobe as the small corpus so the two probe timings are comparable.
    val embs100 = embs.withColumn("__r", explode(lit((0 until 100).toArray)))
      .select((col("vec_id") + col("__r").cast("long") * 1000000L).as("vec_id"),
        col("embedding"))
    val vsBig = java.nio.file.Files.createTempDirectory("scale-vs-big").toString
    time("VectorStorage write 200k bucketed") {
      operators.VectorStorage.writeBucketed(embs100, "embedding", vsBig, planes = 8)
    }
    time("VectorStorage top-10 (pruned read, 200k)") {
      operators.VectorStorage.topK(spark, vsBig, "vec_id", "embedding", q0,
        k = 10, planes = 8, probes = 1).count()
    }
    val ivfBig200 = java.nio.file.Files.createTempDirectory("scale-ivf-200k").toString
    time("IVF train+write 200k, k=64 (50k-sample train)") {
      operators.Ivf.writeIndexed(embs100, "vec_id", "embedding", ivfBig200,
        k = 64, maxIter = 5, trainSampleSize = 50000)
    }
    time("IVF top-10 (nprobe=4, 200k)") {
      operators.Ivf.topK(spark, ivfBig200, "vec_id", "embedding", q0, k = 10, nprobe = 4).count()
    }

    // IVF at scale-realistic parameters: 400k vectors, k=512, training bounded
    // to a 50k sample — train cost is independent of corpus size (the 20×
    // corpus growth shows up only in the linear assignment+write pass), and
    // a probe touches nprobe/k = 4/512 ≈ 0.8% of the corpus.
    val embs200 = embs.withColumn("__r", explode(lit((0 until 200).toArray)))
      .select((col("vec_id") + col("__r").cast("long") * 1000000L).as("vec_id"),
        col("embedding"))
    val ivfBig = java.nio.file.Files.createTempDirectory("scale-ivf-big").toString
    time("IVF train+write 400k vectors, k=512 (50k-sample train)") {
      operators.Ivf.writeIndexed(embs200, "vec_id", "embedding", ivfBig,
        k = 512, maxIter = 3, trainSampleSize = 50000)
    }
    time("IVF top-10 over 400k (nprobe=4 of 512)") {
      operators.Ivf.topK(spark, ivfBig, "vec_id", "embedding", q0, k = 10, nprobe = 4).count()
    }

    // Corpus-construction ops at two scales (5k docs = sf0.1; 50k = 10×):
    // dupSpanStats is the token-heavy one (every token position shuffles a
    // (docId, hash) pair) — the content-defined sampling knob should cut
    // its cost without losing the all-or-nothing detection property.
    import operators.{Bpe, Corpus}
    // the warmups must fire for EVERY section of their family a focused
    // filter might select — 50k and 500k variants alike — or that run
    // times cold whole-stage-codegen JIT instead of the operator
    if (willTime("dup spans 5k docs", "dup spans 50k docs",
        "dup spans 50k docs, hashSampleMod=4", "dup spans 500k docs",
        "mixture 50k docs")) {
      Corpus.dupSpanStats(docs.limit(500), "doc_id", "text", 8).count() // JIT warmup
    }
    if (willTime("pack 50k docs", "pack 500k docs", "writeShards 50k docs",
        "writeShards 500k docs", "bpe train 200 merges, 5k docs",
        "bpe train 200 merges, 50k docs", "bpe train 200 merges, 500k docs")) {
      val tiny = docs.limit(500).withColumn("n", length(col("text")).cast("long"))
      Corpus.packSequences(tiny, "lang", "doc_id", "n", 100000L).count()
      Corpus.shardByTokens(tiny, "doc_id", "n", 100000L).count()
      Bpe.train(docs.limit(500), "text", numMerges = 5).merges.size
    }
    time("dup spans 5k docs") {
      Corpus.dupSpanStats(docs, "doc_id", "text", 8).count()
    }
    time("dup spans 50k docs") {
      Corpus.dupSpanStats(docs10, "doc_id", "text", 8).count()
    }
    time("dup spans 50k docs, hashSampleMod=4") {
      Corpus.dupSpanStats(docs10, "doc_id", "text", 8, hashSampleMod = 4).count()
    }
    // the rewriting pass: covered positions anti-join the token stream
    if (willTime("span removal 5k docs", "span removal 50k docs")) {
      Corpus.removeDupSpans(docs.limit(500), "doc_id", "text", 8).count() // JIT warmup
    }
    time("span removal 5k docs") {
      Corpus.removeDupSpans(docs, "doc_id", "text", 8).count()
    }
    time("span removal 50k docs") {
      Corpus.removeDupSpans(docs10, "doc_id", "text", 8).count()
    }
    time("pack 50k docs") {
      Corpus.packSequences(docs10.withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source", col("doc_id") % 20), "source", "doc_id", "n_chars", 2000L).count()
    }
    time("mixture 50k docs") {
      Corpus.mixture(docs10.withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source", col("doc_id") % 20), "doc_id", "source", "n_chars", 120000.0).count()
    }

    // Token-budgeted contiguous shard export (range shuffle + offset pass
    // + map-only stamp + partitioned write)
    time("writeShards 50k docs") {
      val out = java.nio.file.Files.createTempDirectory("scale-shards").toString + "/out"
      Corpus.writeShards(docs10.withColumn("n_tok", length(col("text")).cast("long")),
        "doc_id", "n_tok", shardTokens = 200000L, out).count()
    }

    // BPE: the corpus-scale stage is the word count (distinct-word
    // shuffle); the merge loop sees only the vocabulary, so train cost
    // should be near-FLAT across the corpus decade. Encode is broadcast +
    // map-only.
    time("bpe train 200 merges, 5k docs") {
      Bpe.train(docs, "text", numMerges = 200).merges.size
    }
    time("bpe train 200 merges, 50k docs") {
      Bpe.train(docs10, "text", numMerges = 200).merges.size
    }
    if (willTime("bpe encode 50k docs")) {
      val model = Bpe.train(docs10, "text", numMerges = 200)
      time("bpe encode 50k docs") {
        Bpe.encode(docs10, "text", model).agg(sum("bpe_len")).collect()(0).getLong(0)
      }
    }

    // third decade for the corpus ops: 500k docs (100× the sf0.1 table).
    // Every replica shares its windows with the original ⇒ dup-span work
    // scales with TRUE duplicate volume, the honest worst case.
    val docs100 = docs.withColumn("__r", explode(lit((0 until 100).toArray)))
      .select((col("doc_id") + col("__r").cast("long") * 1000000L).as("doc_id"),
        concat(col("text"), lit(" w"), col("__r").cast("string")).as("text"))
    time("dup spans 500k docs") {
      Corpus.dupSpanStats(docs100, "doc_id", "text", 8).count()
    }
    time("pack 500k docs") {
      Corpus.packSequences(docs100.withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source", col("doc_id") % 20), "source", "doc_id", "n_chars", 2000L).count()
    }
    time("writeShards 500k docs") {
      val out = java.nio.file.Files.createTempDirectory("scale-shards-big").toString + "/out"
      Corpus.writeShards(docs100.withColumn("n_tok", length(col("text")).cast("long")),
        "doc_id", "n_tok", shardTokens = 2000000L, out).count()
    }
    time("bpe train 200 merges, 500k docs") {
      Bpe.train(docs100, "text", numMerges = 200).merges.size
    }

    // exact KNN spatial join: 300k left x 10k right, k=3 — rounds stay
    // logarithmic and the per-round join is the grid shape
    time("knn spatial join 300k x 10k, k=3") {
      SpatialJoin.knnJoin(cust20, "cgeom", "c_custkey",
        supp10, "sgeom", "s_suppkey", k = 3).count()
    }

    // SemDeDup decade: 4k → 40k embeddings (augmented near-dup pairs);
    // training is bounded (driver-local here), so growth tracks the
    // assignment + sweep passes — linear in corpus volume
    val aug = spark.sql(
      """SELECT vec_id, embedding FROM embeddings
        |UNION ALL
        |SELECT vec_id + 10000000 AS vec_id,
        |       transform(embedding, (x, i) ->
        |         IF(i = 0, CAST(CAST(x AS DOUBLE) + 0.05 AS FLOAT), x)) AS embedding
        |FROM embeddings""".stripMargin)
    val aug10 = (0 until 10).map(i => aug.select(
        (col("vec_id") + lit(i * 100000000L)).as("vec_id"), col("embedding")))
      .reduce(_ union _)
    time("semdedup 4k embeddings") {
      operators.SemDedup.assign(aug, "vec_id", "embedding", tau = 0.95,
        k = 64, trainSampleSize = 10000).where(!col("kept")).count()
    }
    time("semdedup 40k embeddings") {
      operators.SemDedup.assign(aug10, "vec_id", "embedding", tau = 0.95,
        k = 64, trainSampleSize = 10000).where(!col("kept")).count()
    }

    // DSIR decade: weights over 50k vs 500k docs — bucket tables stay
    // |buckets|-bounded, scoring shuffle carries (doc, bucket) partials
    time("dsir weights 50k docs") {
      Corpus.dsirWeights(docs10, docs10.where(col("doc_id") % 3 === 0),
        "doc_id", "text").agg(sum("dsir_weight")).collect()(0)
    }
    time("dsir weights 500k docs") {
      Corpus.dsirWeights(docs100, docs100.where(col("doc_id") % 3 === 0),
        "doc_id", "text").agg(sum("dsir_weight")).collect()(0)
    }

    // Temporal-join decades: events replicated with DISJOINT user spaces
    // per replica, so matching work grows linearly and never crosses
    // replicas (the same discipline as the lineitem/docs replication)
    val ev = spark.table("events")
    def evX(n: Int) = (1 to n).map(i =>
      ev.withColumn("user_id", col("user_id") + lit(i * 100000000L)))
      .reduce(_ union _)
    for ((label, e) <- Seq("10x" -> evX(10), "100x" -> evX(100))) {
      time(s"asof join events $label") {
        val p = e.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("pt"))
        val c = e.where(col("event_type") === "click")
          .select(col("user_id").as("cu"), unix_timestamp(col("ts")).as("ct"),
            col("value").as("cv"))
        operators.Temporal.asofJoin(p, c, Seq("user_id"), Seq("cu"), "pt", "ct",
          Seq("ct", "cv"), tolerance = Some(3600L))
          .where(col("cv").isNotNull).count()
      }
    }
    // range-join decade: bands fixed (1k suppliers), points 15k → 1.5M
    val custT = spark.table("customer")
    val bands = spark.table("supplier")
      .select(col("s_suppkey"), col("s_acctbal").as("lo"),
        (col("s_acctbal") + 500).as("hi"))
    for ((label, n) <- Seq("10x" -> 10, "100x" -> 100)) {
      time(s"range join customers $label") {
        val pts = (1 to n).map(i =>
          custT.withColumn("c_custkey", col("c_custkey") + lit(i * 1000000000L)))
          .reduce(_ union _).select("c_custkey", "c_acctbal")
        operators.Temporal.rangeJoin(pts, "c_acctbal", bands, "lo", "hi")
          .groupBy("s_suppkey").count().count()
      }
    }
    // sketch decades: candidate state is k-bounded per partition, so the
    // cost must track the scan, not the vocabulary
    for ((label, d) <- Seq("50k" -> docs10, "500k" -> docs100)) {
      time(s"heavy hitters words $label docs") {
        val words = d.select(explode(
          operators.TextAnalysis.wsTokens(col("text"))).as("w"))
        operators.Sketches.heavyHitters(words, "w", 200).count()
      }
      time(s"kmv distinct words $label docs") {
        // neither decade frame carries `source`; group by a derived key
        d.select((col("doc_id") % 7).as("grp"),
            explode(call_function("word_window_hashes",
              operators.TextAnalysis.wsTokens(col("text")), lit(1))).as("h"))
          .groupBy("grp")
          .agg(call_function("kmv_distinct", col("h"), lit(1024)))
          .collect().length
      }
    }

    // fuzzy-join decades: replicas carry DISJOINT name prefixes ("x1x1 ",
    // "x2x2 " — any two distinct prefixes are >= 2 edits apart, so d=1
    // matches never cross replicas) and disjoint key spaces: true-pair
    // volume and candidate volume both grow linearly with replicas, the
    // measure that must hold at 100 TB (the gate's own 10x growth is
    // quadratic BY CONSTRUCTION — same vocabulary, denser sampling)
    val partT = spark.table("part").select(col("p_partkey"), col("p_name"))
    def partX(n: Int) = (1 to n).map(i => partT
        .withColumn("p_partkey", col("p_partkey") + lit(i * 100000000L))
        .withColumn("p_name", concat(lit(s"x${i}x$i "), col("p_name"))))
      .reduce(_ union _)
    for ((label, n) <- Seq("10x" -> 10, "100x" -> 100)) {
      time(s"fuzzy join $label (disjoint replicas)") {
        val base = partX(n).where(pmod(col("p_partkey"), lit(20)) === 0)
        // variant offset far past 100 replicas x 1e8 stride: a 1e9 offset
        // would alias replica i's variants onto replica i+10's base ids,
        // breaking FuzzyJoin's unique-id contract on the 100x leg
        val variants = base.select((col("p_partkey") + 100000000000L).as("r_key"),
          concat(substring(col("p_name"), 1, 3),
            expr("substring(p_name, 5)")).as("r_name"))
        val right = base.select(col("p_partkey").as("r_key"),
          col("p_name").as("r_name")).unionByName(variants)
        operators.FuzzyJoin.join(base, "p_partkey", "p_name",
          right, "r_key", "r_name", 1).count()
      }
    }

    // pagerank decades: disjoint node spaces per replica (evX), so |V|
    // and |E| both grow linearly and the fixed-partitioner RDD loop must
    // track the scan — one normalization pass + 3 narrow-join rounds
    for ((label, n) <- Seq("10x" -> 10, "100x" -> 100)) {
      time(s"pagerank events $label") {
        val edges = evX(n).select(
          pmod(col("user_id"), lit(300)).as("a") + (col("user_id") / lit(100000000L)).cast("long") * 1000L,
          pmod(col("user_id") * 7 + col("event_id"), lit(300)).as("b") + (col("user_id") / lit(100000000L)).cast("long") * 1000L)
          .toDF("a", "b")
        val r = operators.Graphs.pageRank(edges, "a", "b", None, iterations = 3).count()
        Dedup.releaseCaches()
        r
      }
    }

    // classifier quality filter: train on 5k labeled docs, score 500k —
    // scoring is the part that sees the full corpus and must be map-only
    if (willTime("quality classifier score 500k docs")) {
      val passing = operators.TextAnalysis.qualityFilter(docs, "text").select("doc_id")
      val pos = docs.join(passing, Seq("doc_id"))
      val neg = docs.join(passing, Seq("doc_id"), "left_anti")
      val model = operators.QualityClassifier.train(pos, neg, "text", numFeatures = 1 << 16)
      time("quality classifier score 500k docs") {
        operators.QualityClassifier.score(docs100, "text", model)
          .agg(sum(when(col("quality_prob") >= 0.5, 1L).otherwise(0L))).collect()(0).getLong(0)
      }
    }
    spark.stop()
  }
}
