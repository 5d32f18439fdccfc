package graft.operators

import graft.{JobLog, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("simhash pairs") {
    val out = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "hamming"))
    assert(out.count() >= 0)
  }

  test("salted minhash finds the same pairs as the plain bucket join") {
    // skewed corpus: 60 identical boilerplate docs (one hot bucket per band)
    // + the natural docs + 3 planted near-dups
    val boiler = spark.range(60)
      .select(($"id" + 500000).as("doc_id"),
        lit("this exact boilerplate footer appears on every page of the site").as("text"))
    val mutated = docs.limit(3)
      .select(($"doc_id" + 700000).as("doc_id"), concat($"text", lit(" tail")).as("text"))
    val corpus = docs.select($"doc_id", $"text").union(boiler).union(mutated)

    def pairSet(saltCap: Int): Set[(Long, Long)] =
      Dedup.minhashPairs(corpus, "doc_id", "text",
          shingleK = 5, numHashes = 128, bands = 32, threshold = 0.8, saltCap = saltCap)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val plain = pairSet(0)
    val salted = pairSet(8) // hot bucket of 60 → 8 salt groups
    assert(plain == salted)
    assert(plain.size >= 60 * 59 / 2) // every boilerplate pair found
    assert(plain.exists { case (a, b) => b - a == 700000 }) // planted pairs too
  }

  test("dropSeen admits exactly the unseen texts (bloom routes, join decides)") {
    val corpus = docs.select($"doc_id", $"text")
    val incoming = docs.limit(40).select(($"doc_id" + 900000).as("doc_id"), $"text")
      .union(docs.limit(40).select(($"doc_id" + 950000).as("doc_id"),
        concat($"text", lit(" unseen")).as("text")))
    val kept = Dedup.dropSeen(incoming, corpus, "text")
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds.size == 40 && keptIds.forall(_ >= 950000), keptIds.take(5))
    // schema passes through untouched
    assert(kept.columns.toSeq == incoming.columns.toSeq)
    // no sort-merge join anywhere: the confirm probes are broadcast, so
    // the corpus's hashes never shuffle (the 100 TB property)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dropSeen stays exact when the bloom filter is saturated with false positives") {
    val corpus = docs.select($"doc_id", $"text")
    val incoming = docs.limit(30).select(($"doc_id" + 900000).as("doc_id"), $"text")
      .union(docs.limit(100).select(($"doc_id" + 950000).as("doc_id"),
        concat($"text", lit(" fp-probe")).as("text")))
    // a filter sized for 4 items at 40% fpp saturates against the full
    // corpus — nearly every incoming row becomes a bloom HIT and must be
    // rescued by the exact confirm join
    val kept = Dedup.dropSeen(incoming, corpus, "text", expectedItems = 4, fpp = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 100 && kept.forall(_ >= 950000))
  }

  test("frozen minhash index finds the same cross pairs as the direct bucket join") {
    val dir = java.nio.file.Files.createTempDirectory("mhidx").toString + "/idx"
    val corpus = docs.select($"doc_id", $"text")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir,
      shingleK = 5, numHashes = 128, bands = 32)
    val incoming = docs.limit(25).select(($"doc_id" + 800000).as("doc_id"), $"text")
      .union(docs.limit(25).select(($"doc_id" + 850000).as("doc_id"),
        concat($"text", lit(" zz")).as("text")))
    val viaIndex = Dedup.nearDupsAgainstIndex(incoming, "doc_id", "text", dir, threshold = 0.5)
    def canon(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val idxPairs = canon(viaIndex.select("id_a", "id_b").collect())
    // ground truth: the direct three-stage join over the union, filtered
    // to pairs crossing the incoming/corpus boundary — identical band
    // hashing ⇒ identical candidates ⇒ identical refined pairs
    val direct = canon(Dedup.minhashPairs(corpus.union(incoming), "doc_id", "text",
        shingleK = 5, numHashes = 128, bands = 32, threshold = 0.5)
      .where(col("id_a") < 800000 && col("id_b") >= 800000)
      .select("id_a", "id_b").collect())
    assert(idxPairs == direct)
    assert(idxPairs.size >= 50, idxPairs.size) // every planted doc pairs with its source
    // exact clones refine to jaccard 1.0 through the stored shingle sets
    assert(viaIndex.where(col("id_a") < 850000 && col("jaccard") === 1.0).count() >= 25)
    // batch-probe plan: both index scans are broadcast-probed, no shuffle
    // of index rows (the 100 TB property)
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    // a second build refuses to clobber the frozen snapshot
    intercept[Exception] { Dedup.writeMinhashIndex(corpus, "doc_id", "text", dir) }
    Dedup.releaseCaches()
  }

  test("dropSeen treats NULL text as a value: refused iff the corpus has one") {
    val corpusWithNull = Seq((1L, "alpha"), (2L, null)).toDF("doc_id", "text")
    val corpusNoNull = Seq((1L, "alpha")).toDF("doc_id", "text")
    val incoming = Seq((10L, null), (11L, "beta")).toDF("doc_id", "text")
    assert(Dedup.dropSeen(incoming, corpusWithNull, "text")
      .select("doc_id").as[Long].collect().toSet == Set(11L))
    assert(Dedup.dropSeen(incoming, corpusNoNull, "text")
      .select("doc_id").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("releaseCaches drops the persists left behind by dedup calls") {
    Dedup.releaseCaches() // drain anything from earlier tests
    val baseline = spark.sparkContext.getPersistentRDDs.size
    Dedup.minhashPairs(docs, "doc_id", "text").count()
    Dedup.embeddingPairs(spark.read.parquet(s"$sfDir/embeddings.parquet"),
      "vec_id", "embedding", minCosine = 0.9).count()
    assert(spark.sparkContext.getPersistentRDDs.size > baseline,
      "expected dedup calls to leave tracked caches behind")
    Dedup.releaseCaches()
    assert(spark.sparkContext.getPersistentRDDs.size <= baseline,
      "releaseCaches must return the session to its cache baseline")
    Dedup.releaseCaches() // idempotent on a drained registry
  }

  test("releaseResults frees the checkpoint blocks behind self-contained results") {
    Dedup.releaseCaches(); Dedup.releaseResults() // drain earlier tests
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.size
    // dbscan returns a localCheckpoint-backed self-contained frame:
    // Dataset.unpersist is a silent NO-OP for those (the plan is a
    // LogicalRDD, never in the CacheManager), so this test fails against
    // a drain that only calls unpersist — the blocks must go through the
    // underlying RDD handles
    val pts = spark.range(30).selectExpr("id", "ST_Point(CAST(id % 6 AS DOUBLE), CAST(id % 5 AS DOUBLE)) AS g")
    val res = SpatialJoin.dbscan(pts, "id", "g", eps = 1.5, minPts = 3)
    assert(res.count() == 30)
    assert(sc.getPersistentRDDs.size > baseline,
      "expected the self-contained result to hold checkpoint blocks")
    Dedup.releaseCaches() // internal intermediates (clusters' checkpoints)
    Dedup.releaseResults() // the result frame itself
    assert(sc.getPersistentRDDs.size <= baseline,
      "the drains must free every localCheckpoint block, not just SQL caches")
  }

  test("clusters with reliable checkpoint matches localCheckpoint result") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    ckptDir.deleteOnExit()
    spark.sparkContext.setCheckpointDir(ckptDir.getAbsolutePath)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // smallGraphThreshold = 0 forces the distributed propagation path so the
    // checkpoint machinery is what's actually exercised
    val local = toMap(Dedup.clusters(pairs, smallGraphThreshold = 0))
    val reliable = toMap(Dedup.clusters(pairs, reliableCheckpoint = true,
      smallGraphThreshold = 0))
    assert(local == reliable)
    assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("driver union-find and distributed propagation label identically") {
    // random-ish chain/star/cycle mix, incl. a long chain (pointer jumping's
    // worst case) — both paths must produce min-reachable-id labels
    val edges = (1L to 40L).map(i => (i, i + 1)) ++ // chain 1..41
      Seq((100L, 101L), (100L, 102L), (100L, 103L)) ++ // star
      Seq((200L, 201L), (201L, 202L), (202L, 200L)) // cycle
    val pairs = edges.toDF("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = toMap(Dedup.clusters(pairs))
    val distributed = toMap(Dedup.clusters(pairs, smallGraphThreshold = 0))
    assert(driver == distributed)
    assert(driver(41L) == 1L && driver(103L) == 100L && driver(202L) == 200L)
  }

  test("string-id pair lists take the distributed path and still label correctly") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    // the default threshold runs the driver union-find on string ids too;
    // 0 forces the distributed loop
    for (threshold <- Seq(1L << 20, 0L)) {
      val (rows, log) = JobLog.during(spark.sparkContext)(
        Dedup.clusters(pairs, smallGraphThreshold = threshold).collect())
      val out = rows.map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
      assert(log.descriptions.exists(_.startsWith("dedup.clusters: distributed")) ==
        (threshold == 0L), log.descriptions)
    }
    Dedup.releaseCaches(); Dedup.releaseResults()
  }

  test("string ids label by Spark SQL's min on both clusters paths (UTF-8 byte order)") {
    // U+E000 sorts BELOW the supplementary-plane emoji in UTF-8 bytes
    // (EE.. < F0..) but ABOVE it in Java's UTF-16 code units (E000 >
    // D83D), and U+FF5A likewise; a String.compareTo ordering labels the
    // first component "\uD83D\uDE00b" instead
    val comps = Seq(
      Seq("\uD83D\uDE00b", "\uE000x", "\uFF5Aa"),
      Seq("a", "\uD83D\uDE00b2", "é"),
      Seq("ñ", "\uD83D\uDE01"))
    val pairs = comps.flatMap(c => c.zip(c.tail)).toDF("id_a", "id_b")
    val want = comps.flatMap { c =>
      val m = c.toDF("id").agg(min("id")).head().getString(0)
      c.map(_ -> m)
    }.toMap
    assert(want("\uFF5Aa") == "\uE000x" && want("é") == "a")
    for (threshold <- Seq(1L << 20, 0L)) {
      val got = Dedup.clusters(pairs, smallGraphThreshold = threshold).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == want, s"threshold=$threshold")
    }
    Dedup.releaseCaches(); Dedup.releaseResults()
  }

  test("a null id fails loudly on both clusters paths, for Long and String ids") {
    val longs = Seq((Option(1L), Option(2L)), (Option(2L), None)).toDF("id_a", "id_b")
    val strings = Seq((Option("a"), Option("b")), (None, Option("b"))).toDF("id_a", "id_b")
    for (pairs <- Seq(longs, strings); threshold <- Seq(1L << 20, 0L)) {
      val e = intercept[Exception](
        Dedup.clusters(pairs, smallGraphThreshold = threshold).collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(messages.exists(_.contains("clusters: id_a/id_b must not be null")),
        s"threshold=$threshold ${pairs.schema("id_a").dataType}: $e")
    }
    Dedup.releaseCaches(); Dedup.releaseResults()
  }

  test("clusters rejects id types without value equality up front") {
    val binary = Seq((Array[Byte](1), Array[Byte](2))).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](Dedup.clusters(binary))
    assert(e.getMessage.contains("clusters: id type binary"), e.getMessage)
  }

  test("a distributed clusters call keeps only the RDDs behind its result") {
    val sc = spark.sparkContext
    // distributed only; probe, then the distributed loop
    for (threshold <- Seq(0L, 1L)) {
      Dedup.releaseCaches(); Dedup.releaseResults()
      val baseline = sc.getPersistentRDDs.keySet
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      val result = Dedup.clusters(pairs, smallGraphThreshold = threshold)
      assert(result.collect().length == 5)
      val kept = sc.getPersistentRDDs.keySet -- baseline
      // every RDD the result's plan reads, through its (checkpoint-cut) lineage
      val leaves = result.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[Int] =
        r.id +: r.dependencies.flatMap(d => lineage(d.rdd))
      val backing = leaves.flatMap(lineage).toSet
      assert(kept.nonEmpty && kept.subsetOf(backing),
        s"threshold=$threshold: ${(kept -- backing).size} persisted RDDs outlive their use")
    }
    Dedup.releaseCaches(); Dedup.releaseResults()
  }

  test("lshConfig reproduces the validated 8×8 layout at gate scale and grows with n") {
    // gate-scale corpora keep the historical layout bit-for-bit
    assert(Dedup.lshConfig(-1, -1, 1000, 0.95) == (8, 8))
    assert(Dedup.lshConfig(-1, -1, 1, 0.95) == (8, 8)) // floor, no log-of-zero
    // 10× the vectors: more planes (smaller buckets), recall re-solved
    val (pl40k, tb40k) = Dedup.lshConfig(-1, -1, 40000, 0.95)
    assert(pl40k > 8 && pl40k <= 24)
    // boundary recall never drops below the 8×8 baseline's 0.988
    val p = 1.0 - math.acos(0.95) / math.Pi
    val recall = 1.0 - math.pow(1.0 - math.pow(p, pl40k), tb40k)
    assert(recall >= 0.988, s"recall $recall under ($pl40k, $tb40k)")
    // either knob pins independently: explicit planes still solve tables,
    // explicit tables still derive planes from n
    val (plFixed, tbFixed) = Dedup.lshConfig(12, -1, 40000, 0.95)
    assert(plFixed == 12 && tbFixed >= 1)
    val (plAuto, tbPinned) = Dedup.lshConfig(-1, 5, 40000, 0.95)
    assert(plAuto > 8 && tbPinned == 5)
    // exact-duplicate threshold: any single table suffices
    assert(Dedup.lshConfig(-1, -1, 1000, 1.0)._2 == 1)
  }

  test("auto-sized embedding pairs find the same refined pairs as the fixed layout") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // low threshold → dense true-pair structure; auto layout (n≈small → 8
    // planes, recall-solved tables ≥ 8) must cover the fixed 8×8's pairs
    val fixed = pairSet(Dedup.embeddingPairs(embs, "vec_id", "embedding",
      minCosine = 0.4, planes = 8, tables = 8))
    val auto = pairSet(Dedup.embeddingPairs(embs, "vec_id", "embedding",
      minCosine = 0.4))
    assert(fixed.subsetOf(auto),
      s"auto layout lost ${(fixed -- auto).size} of ${fixed.size} pairs")
  }

  test("reliable checkpoint without a checkpoint dir fails fast") {
    val fresh = spark.newSession()
    // newSession shares the SparkContext, so clear the dir via a fresh check:
    // the require triggers only when no dir is set; here one may be set by the
    // previous test, so assert the guard logic directly instead
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    if (fresh.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] {
        Dedup.clusters(pairs, reliableCheckpoint = true)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
  }

  // ------------------------------------------------- one execution per result

  /** The corpus plus `n` planted near-copies, ids offset by `off`. */
  private def planted(off: Long, suffix: String, n: Int = 8): DataFrame =
    docs.select($"doc_id", $"text").union(docs.limit(n)
      .select(($"doc_id" + off).as("doc_id"), concat($"text", lit(suffix)).as("text")))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** An uncached edge list whose rows tick `acc` each time the upstream
    * projection runs. */
  private def tapped(edges: Seq[(Long, Long)], acc: org.apache.spark.util.LongAccumulator): DataFrame = {
    val tap = udf((a: Long) => { acc.add(1L); a }).asNondeterministic()
    edges.toDF("id_a", "id_b").select(tap($"id_a").as("id_a"), $"id_b")
  }

  test("clusters reads a collected minhash result from its cache: no shuffle writes") {
    Dedup.releaseCaches()
    val pairs = Dedup.minhashPairs(planted(700000L, " tail"), "doc_id", "text")
    val rows = pairSet(pairs)
    assert(rows.count { case (a, b) => b - a == 700000L } >= 8, rows.size)
    val (labels, log) = JobLog.during(spark.sparkContext)(Dedup.clusters(pairs).collect())
    assert(log.descriptions.nonEmpty)
    assert(log.shuffleWriteBytes == 0L,
      s"clusters re-ran the pair pipeline: ${log.shuffleWriteBytes} shuffle bytes written")
    val label = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(label.keySet == rows.flatMap { case (a, b) => Seq(a, b) })
    assert(rows.forall { case (a, b) => label(a) == label(b) && label(a) <= a })
    Dedup.releaseCaches()
  }

  test("clusters executes an uncached upstream once, on every path") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt1").toFile
    ckptDir.deleteOnExit()
    spark.sparkContext.setCheckpointDir(ckptDir.getAbsolutePath)
    val acc = spark.sparkContext.longAccumulator("upstream rows")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    // driver path; probe, then the distributed loop; distributed only
    for ((threshold, reliable) <- Seq((1L << 20, false), (2L, false), (0L, false), (0L, true))) {
      Dedup.releaseCaches()
      acc.reset()
      val got = Dedup.clusters(tapped(edges, acc), reliableCheckpoint = reliable,
          smallGraphThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
      assert(acc.value == edges.size,
        s"threshold=$threshold reliable=$reliable: upstream ran ${acc.value / edges.size.toDouble} times")
    }
    Dedup.releaseCaches(); Dedup.releaseResults()
  }

  test("clusters never releases a frame the caller persisted") {
    val own = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      own.count()
      for (threshold <- Seq(1L << 20, 0L))
        assert(Dedup.clusters(own, smallGraphThreshold = threshold).count() == 5)
      Dedup.releaseCaches(); Dedup.releaseResults()
      assert(own.storageLevel == StorageLevel.MEMORY_ONLY)
    } finally own.unpersist()
  }

  test("both clusters paths return to the cache baseline after the releases") {
    val sc = spark.sparkContext
    // driver path; probe, then the distributed loop; distributed only
    for (threshold <- Seq(1L << 20, 1L, 0L)) {
      Dedup.releaseCaches(); Dedup.releaseResults()
      val baseline = sc.getPersistentRDDs.size
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
      assert(Dedup.clusters(pairs, smallGraphThreshold = threshold).count() == 5)
      // the driver path's result is local: its input cache is already gone
      if (threshold == (1L << 20)) assert(sc.getPersistentRDDs.size == baseline)
      else assert(sc.getPersistentRDDs.size > baseline,
        s"threshold=$threshold: expected a tracked checkpoint")
      Dedup.releaseCaches(); Dedup.releaseResults()
      assert(sc.getPersistentRDDs.size <= baseline,
        s"threshold=$threshold: releases left ${sc.getPersistentRDDs.size - baseline} RDDs")
    }
  }

  test("the releases never free a checkpoint the caller made") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b").localCheckpoint(true)
    val derived = edges.where($"id_a" =!= 99L) // a plan over the caller's checkpoint
    for (pairs <- Seq(edges, derived); threshold <- Seq(1L << 20, 1L, 0L)) {
      assert(Dedup.clusters(pairs, smallGraphThreshold = threshold).count() == 5)
      Dedup.releaseCaches(); Dedup.releaseResults()
      assert(pairs.count() == 3, s"threshold=$threshold: the caller's checkpoint was freed")
    }
    // the pair producers' own caches sit on the caller's plan too
    val docsCkpt = planted(700000L, " tail").localCheckpoint(true)
    assert(Dedup.minhashPairs(docsCkpt, "doc_id", "text").count() > 0)
    Dedup.releaseCaches()
    assert(docsCkpt.count() == docs.count() + 8)
  }

  test("cached minhash results of different inputs stay apart in one session") {
    Dedup.releaseCaches()
    val a = Dedup.minhashPairs(planted(700000L, " tail"), "doc_id", "text")
    val b = Dedup.minhashPairs(planted(800000L, " other tail", n = 5), "doc_id", "text")
    val (a1, b1) = (pairSet(a), pairSet(b)) // both caches filled, no release
    val a2 = pairSet(a)
    assert(a1 == a2)
    def plantedIn(set: Set[(Long, Long)], off: Long) = set.count { case (x, y) => y - x == off }
    assert(plantedIn(a1, 700000L) >= 8 && plantedIn(a1, 800000L) == 0)
    assert(plantedIn(b1, 800000L) >= 5 && plantedIn(b1, 700000L) == 0)
    // the natural pairs agree: same corpus underneath
    assert(a1.filter(_._2 < 700000L) == b1.filter(_._2 < 700000L))
    Dedup.releaseCaches()
  }

  test("pair results re-collect the same rows after releaseCaches") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val minhash = Dedup.minhashPairs(planted(700000L, " tail"), "doc_id", "text")
    val results = Seq(minhash,
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8),
      Dedup.embeddingPairs(embs, "vec_id", "embedding", minCosine = 0.4),
      Dedup.embeddingPairs(embs, "vec_id", "embedding", minCosine = 0.4, planes = 8, tables = 8))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val first = results.map(rows)
    assert(first.forall(_.nonEmpty))
    assert(minhash.storageLevel != StorageLevel.NONE)
    Dedup.releaseCaches()
    assert(minhash.storageLevel == StorageLevel.NONE)
    assert(results.map(rows) == first)
    Dedup.releaseCaches()
  }

  test("clusters names the path it took in its job descriptions") {
    val sc = spark.sparkContext
    val chain = (1L to 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (prior <- Seq("caller's own description", null)) {
      sc.setJobDescription(prior)
      try {
        val (_, driver) = JobLog.during(sc)(Dedup.clusters(chain).collect())
        assert(driver.descriptions.nonEmpty &&
          driver.descriptions.forall(_ == "dedup.clusters: driver union-find"), driver.descriptions)
        assert(sc.getLocalProperty("spark.job.description") == prior)

        for (pairs <- Seq(chain, chain.select($"id_a".cast("string"), $"id_b".cast("string")))) {
          val (_, dist) = JobLog.during(sc)(Dedup.clusters(pairs, smallGraphThreshold = 0))
          val Rounds = "dedup\\.clusters: distributed, (\\d+) rounds".r
          val rounds = dist.descriptions.collect { case Rounds(r) => r.toInt }
          assert(dist.descriptions.forall(_.startsWith("dedup.clusters: distributed, ")),
            dist.descriptions)
          // every round labels its jobs, in order; a chain needs ≥ 2 (one
          // that changes labels, one that confirms nothing changed)
          assert(rounds.nonEmpty && rounds.head == 0 && rounds.max >= 2, rounds)
          assert(rounds.distinct == (0 to rounds.max), rounds)
          assert(sc.getLocalProperty("spark.job.description") == prior)
        }
      } finally sc.setJobDescription(null)
    }
    Dedup.releaseCaches(); Dedup.releaseResults()
  }

  // --------------------------------------------- band buckets, once per call

  /** 120 random 30-word lowercase documents, 12 of them with a near-copy
    * (two words replaced) and 6 with a far copy (ten replaced), plus 70
    * identical boilerplate documents: a bucket of at least 70 members in
    * every band, above the inline cap, so both the narrow and the
    * big/salted branch carry rows. */
  private lazy val bucketCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = IndexedSeq.fill(500)(
      Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(3 + rnd.nextInt(6)).mkString)
    val texts = IndexedSeq.fill(120)(IndexedSeq.fill(30)(vocab(rnd.nextInt(vocab.size))))
    def edit(words: IndexedSeq[String], n: Int) =
      rnd.shuffle(words.indices.toList).take(n)
        .foldLeft(words)((w, i) => w.updated(i, vocab(rnd.nextInt(vocab.size))))
    val base = texts.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val near = base.take(12).map { case (i, w) => (1000L + i, edit(w, 2)) }
    val far = base.slice(12, 18).map { case (i, w) => (2000L + i, edit(w, 10)) }
    val boiler = (0 until 70).map(i => (3000L + i, texts.last))
    (base ++ near ++ far).map { case (i, w) => (i, w.mkString(" ")) } ++
      boiler.map { case (i, w) => (i, "footer " + w.mkString(" ")) }
  }

  /** Every distinct node of an executed plan, through AQE final plans,
    * query stages, reused exchanges and in-memory cached plans. */
  private def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      (p match {
        case a: AdaptiveSparkPlanExec   => Seq(a.executedPlan)
        case q: QueryStageExec          => Seq(q.plan)
        case r: ReusedExchangeExec      => Seq(r.child)
        case m: InMemoryTableScanExec   => Seq(m.relation.cachedPlan)
        case other                      => other.children
      }).foreach(visit)
    }
    visit(root)
    out.toSeq
  }

  /** True when `p` reaches the band-hash posexplode without crossing
    * another shuffle. */
  private def feedsFromBands(p: SparkPlan): Boolean = p match {
    case g: GenerateExec =>
      g.generator.find(_.isInstanceOf[graft.functions.MinhashBandHashes]).isDefined ||
        g.children.exists(feedsFromBands)
    case _: ShuffleExchangeLike | _: ShuffleQueryStageExec | _: ReusedExchangeExec => false
    case a: AdaptiveSparkPlanExec => feedsFromBands(a.executedPlan)
    case m: InMemoryTableScanExec => feedsFromBands(m.relation.cachedPlan)
    case other => other.children.exists(feedsFromBands)
  }

  test("minhash shuffles its band buckets once, at the session's shuffle width") {
    val width = spark.sessionState.conf.numShufflePartitions
    val corpus = bucketCorpus.toDF("doc_id", "text")
    for (saltCap <- Seq(0, 8)) {
      Dedup.releaseCaches()
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", saltCap = saltCap)
      assert(pairs.collect().length > 70 * 69 / 2)
      val nodes = planNodes(pairs.queryExecution.executedPlan)
      assert(nodes.exists(feedsFromBands), s"saltCap=$saltCap: no band Generate in the plan")
      val exchanges = nodes.collect { case e: ShuffleExchangeLike if feedsFromBands(e.child) => e }
      assert(exchanges.size == 1,
        s"saltCap=$saltCap: ${exchanges.size} band-bucket exchanges:\n${exchanges.mkString("\n")}")
      val bands = exchanges.head
      assert(bands.numPartitions == width, s"saltCap=$saltCap: $bands")
      val reads = nodes.collect {
        case r: AQEShuffleReadExec if (r.child match {
          case q: ShuffleQueryStageExec =>
            (q.plan match { case r: ReusedExchangeExec => r.child; case e => e }) eq bands
          case _ => false
        }) => r.partitionSpecs.size
      }
      assert(reads.forall(_ >= width),
        s"saltCap=$saltCap: band-bucket reads coalesced to $reads partitions, width $width")
    }
    Dedup.releaseCaches()
  }

  test("minhash pairs equal the brute-force exact Jaccard pairs at every salt cap") {
    def shingles(t: String): Set[String] = {
      val s = t.toLowerCase(java.util.Locale.ROOT)
      if (s.length >= 5) s.sliding(5).toSet else Set(s)
    }
    val sh = bucketCorpus.map { case (id, t) => id -> shingles(t) }
    val want = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= 0.7
    } yield (a, b) -> j).toMap
    // the corpus spans both sides of the threshold
    assert(want.size > 70 * 69 / 2 && want.keys.count(_._2 < 3000L) >= 12, want.size)
    assert(!want.contains((12L, 2012L)))
    val corpus = bucketCorpus.toDF("doc_id", "text")
    for (saltCap <- Seq(0, 8, 2048)) {
      val got = Dedup.minhashPairs(corpus, "doc_id", "text", saltCap = saltCap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == want.keySet, s"saltCap=$saltCap: missing " +
        s"${(want.keySet -- got.keySet).take(5)}, extra ${(got.keySet -- want.keySet).take(5)}")
      assert(got.forall { case (k, j) => math.abs(j - want(k)) < 1e-12 }, s"saltCap=$saltCap")
      Dedup.releaseCaches()
    }
  }
}
