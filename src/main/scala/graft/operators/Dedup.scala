package graft.operators

import graft.Graft
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Document deduplication at pipeline scale.
  *
  * Every variant is built from map-side hashing + equi-joins on bucket keys
  * — no O(n²) pair enumeration, no driver collect. Candidate pairs are
  * always refined with an exact measure before being reported.
  */
object Dedup {

  /** Resource registry, split by how Spark retains each resource kind:
    *
    *  - SQL-cached DataFrames (`.persist`): the session's CacheManager
    *    holds the cached plan STRONGLY until `unpersist`, so a weak ref
    *    to the Dataset wrapper would leak the cache permanently the
    *    moment GC clears it (the wrapper is garbage as soon as the
    *    operator returns — only the registry keeps it findable). These
    *    are held strongly; the extra retention over CacheManager's own
    *    pin is just the wrapper object.
    *  - localCheckpoint-backed frames: `Dataset.unpersist` is a silent
    *    NO-OP for these (the plan is a LogicalRDD, never in the
    *    CacheManager — measured: blocks survive unpersist). The real
    *    resource is the checkpointed RDD, so the registry weak-tracks
    *    the LogicalRDD leaves' RDDs: while the result frame is alive the
    *    refs stay valid and drain frees the blocks eagerly; once the
    *    frame is dropped, GC + ContextCleaner reclaim as if untracked
    *    (the round-10 advice finding — nothing pins an abandoned result).
    *  - bare RDDs / broadcasts: ContextCleaner reclaims them on GC, so
    *    weak refs suffice; drain releases eagerly while reachable.
    *
    * The synchronized wrapper is the mutex for [[drain]]'s
    * iterate-and-remove. */
  private final class Registry {
    val strong: java.util.Set[AnyRef] =
      java.util.Collections.synchronizedSet(new java.util.LinkedHashSet[AnyRef]())
    val weak: java.util.Set[AnyRef] =
      java.util.Collections.synchronizedSet(java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[AnyRef, java.lang.Boolean]()))
    def add(h: AnyRef): Unit = h match {
      case ds: org.apache.spark.sql.Dataset[_] =>
        val df = ds.toDF()
        if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          strong.add(df) // SQL-cached: CacheManager pins it until unpersist
        else {
          // checkpoint-backed (or plain): the blocks live on the leaf RDDs
          checkpointRdds(df).foreach(weak.add)
          ()
        }
      case other => weak.add(other); ()
    }
  }

  /** The checkpointed RDDs a materialized frame's plan scans (LogicalRDD
    * leaves) — the handles that actually free localCheckpoint blocks. */
  private def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Frees the blocks behind a MATERIALIZED frame. `Dataset.unpersist`
    * only drops SQL-cache entries; for localCheckpoint-backed frames it
    * is a silent no-op (the plan is never in the CacheManager), so this
    * also unpersists the LogicalRDD leaves' RDDs. Only call on frames
    * whose checkpoint blocks nothing else still references. */
  private[graft] def releaseFrame(df: DataFrame, blocking: Boolean = false): Unit = {
    df.unpersist(blocking)
    checkpointRdds(df).foreach(_.unpersist(blocking))
  }

  /** Internal persists that must OUTLIVE their call — the returned plan
    * references them lazily (minhash signatures, the embedding base frame,
    * the cached minhash pair result, the final clustering-label RDD), so they
    * cannot be unpersisted before the caller executes the result. A
    * long-lived session releases them with [[releaseCaches]] once results
    * are consumed; without it the blocks linger until evicted
    * (MEMORY_AND_DISK is LRU-evictable, so this is hygiene, not an OOM). */
  private val tracked = new Registry
  private[operators] def track[A <: AnyRef](h: A): A = { tracked.add(h); h }

  /** Unpersists every cache left behind by dedup calls in this JVM. Call
    * AFTER consuming the returned frames: a result backed by a
    * localCheckpoint (`SpatialJoin.epsPairs`) cannot be re-executed once
    * its blocks are released. The registry is JVM-GLOBAL — with concurrent
    * dedup consumers in one JVM, a release by one drops the others'
    * unconsumed checkpoint blocks too; serialize release points (e.g.
    * between pipeline stages, as Bench does between runs) or skip release
    * and rely on LRU eviction. */
  def releaseCaches(): Unit = releaseCaches(blocking = false)
  /** @param blocking when true, waits for block removal to complete before
    *                 returning — benchmark harnesses use this so removal
    *                 work doesn't bleed into the NEXT timed section. */
  def releaseCaches(blocking: Boolean): Unit = drain(tracked, blocking)

  /** RESULT frames the self-contained operators (dbscan,
    * ContainmentJoin.join) materialize before returning. Kept in a
    * SEPARATE registry so [[releaseCaches]] — the hygiene call the
    * operator docs tell users to make once intermediates are done —
    * can never strand an unconsumed result (the round-9 advice trap).
    * Harnesses that run MANY operator calls in one JVM (Bench, Verify)
    * call [[releaseResults]] between queries once each result is fully
    * consumed; otherwise the blocks linger until the RDD is GC'd and
    * the ContextCleaner reclaims them (observed as suite-wide memory
    * pressure at 20×: individually-fast queries read 5-10× slower late
    * in a 143-query run). Checkpoint-backed results register as weak refs
    * to their underlying RDDs (see [[Registry]]), so a consumer that
    * never calls releaseResults leaks nothing: once its DataFrame goes
    * unreachable, the entries clear and the ContextCleaner path applies
    * unhindered. */
  private val trackedResults = new Registry
  private[graft] def trackResult[A <: AnyRef](h: A): A = { trackedResults.add(h); h }

  /** Releases materialized RESULT frames (see [[trackResult]]). Only
    * call once those results are consumed — they cannot be recomputed. */
  def releaseResults(): Unit = releaseResults(blocking = false)
  /** @param blocking see [[releaseCaches(blocking:Boolean)*]]. */
  def releaseResults(blocking: Boolean): Unit = drain(trackedResults, blocking)

  private def drain(reg: Registry, blocking: Boolean = false): Unit = {
    def drainSet(set: java.util.Set[AnyRef]): Unit = set.synchronized {
      val it = set.iterator()
      while (it.hasNext) {
        it.next() match {
          // only SQL-cached frames reach here (see Registry.add): drop the
          // cache, never the plan's checkpoint leaves — those belong to
          // whoever checkpointed them (often the caller's own input)
          case ds: org.apache.spark.sql.Dataset[_]        => ds.unpersist(blocking)
          case rdd: org.apache.spark.rdd.RDD[_]           => rdd.unpersist(blocking)
          case b: org.apache.spark.broadcast.Broadcast[_] => b.destroy()
          case _                                          => ()
        }
        it.remove()
      }
    }
    drainSet(reg.strong)
    drainSet(reg.weak)
  }

  /** Exact dedup: one representative row (min id) per identical text.
    * Single hash-aggregate; at 100 TB group on a 128-bit hash of the text
    * rather than the full text to keep shuffle rows small. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact-duplicate removal: keeps the minimum-id row per identical text.
    * Shuffles (hash, id) pairs only — document bodies never move; survivors
    * join back against the (small) keeper set. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup — the cross-snapshot shape: admit only the
    * `incoming` rows (a new crawl batch) whose text does NOT already
    * exist in `corpus` (a frozen, already-curated snapshot). The naive
    * `left_anti` join re-shuffles the ENTIRE corpus's hashes on every
    * batch — at 10^10 frozen docs that is a few hundred GB of exchange to
    * admit a batch a thousandth the size. Here the corpus reduces to a
    * Bloom filter over its text hashes (one map-side aggregation scan;
    * the filter broadcasts back), and incoming routes against it:
    *
    *  - bloom MISSES are definitely new (no false negatives) — they pass
    *    through with no join at all;
    *  - bloom HITS — true duplicates plus the fpp tail — are confirmed
    *    exactly: the rare hit hashes shuffle (tiny), AQE broadcasts them
    *    into a semi-join probe of the corpus scan (corpus hashes never
    *    shuffle), and the surviving true-duplicate hashes (small by
    *    construction) broadcast into the final anti-join.
    *
    * The result is EXACT for any fpp — the bloom only routes, the
    * confirm join decides — so `fpp` trades filter size against confirm
    * volume only (~1.2 GB of filter per 10^9 corpus docs at the 1%
    * default; raise fpp if driver/executor memory is the bound). Corpus
    * is scanned twice (filter build + confirm probe), both map-side;
    * `expectedItems` sizes the filter and defaults to a `corpus.count()`
    * (a third scan — pass the known snapshot size to skip it). NULL
    * texts compare equal to NULL texts, like the grouped [[exact]].
    */
  private def seenHashOf(c: org.apache.spark.sql.Column) =
    coalesce(md5(c.cast("binary")), lit("null"))

  /** Corpus → (hash frame, broadcast bloom membership predicate). The
    * broadcast is [[track]]ed: the filter can be GB-sized and lives on
    * every executor for as long as the returned plans are referenced —
    * releaseCaches() destroys it once results are consumed. */
  private def corpusBloom(corpus: DataFrame, textCol: String, expectedItems: Long,
                          fpp: Double): (DataFrame, org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    val corpusHashes = corpus.select(seenHashOf(col(textCol)).as("__h"))
    val n = if (expectedItems > 0) expectedItems else math.max(corpus.count(), 1L)
    val filter = corpusHashes.stat.bloomFilter("__h", n, fpp)
    val filterB = track(corpus.sparkSession.sparkContext.broadcast(filter))
    val mightContain = udf((h: String) => filterB.value.mightContainString(h))
    (corpusHashes, (c: org.apache.spark.sql.Column) => mightContain(c))
  }

  def dropSeen(incoming: DataFrame, corpus: DataFrame, textCol: String,
               expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val (corpusHashes, mightContain) = corpusBloom(corpus, textCol, expectedItems, fpp)
    // persisted: three branches (misses, hits, the confirm) consume this
    // frame — without the cache the batch lineage runs three times, and a
    // nondeterministic lineage (a rand() sample upstream) could even
    // route a row into neither or both branches
    val inc = track(incoming.withColumn("__h", seenHashOf(col(textCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val misses = inc.where(!mightContain(col("__h")))
    val hits = inc.where(mightContain(col("__h")))
    // hit hashes are rare (dups + fpp): AQE sees the tiny shuffle and
    // broadcasts them, so the corpus confirm scan is probe-only
    val hitHashes = hits.select("__h").distinct()
    val dupHashes = corpusHashes.join(hitHashes, Seq("__h"), "left_semi").distinct()
    val newFromHits = hits.join(dupHashes, Seq("__h"), "left_anti")
    misses.unionByName(newFromHits).drop("__h")
  }

  /** [[graft.streaming.StreamingDedup.dropSeenStream]]'s engine — the
    * [[dropSeen]] semantics with a STREAMING incoming frame. Stateless
    * (membership is against a frozen set, nothing accumulates across
    * batches): misses pass join-free per micro-batch; the rare bloom
    * hits confirm through a stream-static left-outer join (+ null
    * check — left ANTI is not supported stream-static) against the
    * distinct corpus-hash frame, persisted so the static side is scanned
    * once and probed thereafter. */
  private[graft] def dropSeenStreamImpl(incoming: DataFrame, corpus: DataFrame,
                                        textCol: String, expectedItems: Long,
                                        fpp: Double): DataFrame = {
    val (corpusHashes, mightContain) = corpusBloom(corpus, textCol, expectedItems, fpp)
    val inc = incoming.withColumn("__h", seenHashOf(col(textCol)))
    val misses = inc.where(!mightContain(col("__h")))
    val seen = track(corpusHashes.distinct().withColumn("__seen", lit(1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val newFromHits = inc.where(mightContain(col("__h")))
      .join(seen, Seq("__h"), "left_outer")
      .where(col("__seen").isNull).drop("__seen")
    misses.unionByName(newFromHits).drop("__h")
  }

  /** `_INDEX.json` tag of `TextOps.shingles`' rule; an index without it
    * signed short texts as all `Long.MaxValue` and is refused. */
  private val ShingleRule = "short_text_one_shingle"

  /** Builds the frozen MinHash near-dup index — the NEAR-duplicate analog
    * of [[dropSeen]]'s cross-snapshot shape, and the serving-path pattern
    * `VectorStorage` established for ANN: pay the signature pass ONCE
    * when the snapshot freezes, then admit each new batch against the
    * index without recomputing or shuffling the corpus. Layout:
    *
    *   path/docs/   (id, sig, sh)   — signature + sorted shingle hashes,
    *                                  the self-contained refine payload
    *   path/bands/  (band, h, id)   — LSH bucket table, partitioned by
    *                                  band, h-sorted for row-group skips
    *   path/_INDEX.json             — (shingleK, numHashes, bands, rule);
    *                                  the query path refuses a mismatch
    *
    * One corpus scan builds both tables (the signature frame persists
    * across the two writes). */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String, path: String,
                        shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = corpus.sparkSession
    Graft.register(spark)
    val payload = corpus
      .select(col(idCol).as("id"),
        call_function("minhash_signature", col(textCol), lit(shingleK), lit(numHashes)).as("sig"),
        call_function("sorted_shingles", col(textCol), lit(shingleK)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      payload.write.mode("errorifexists").parquet(s"$path/docs")
      payload.select(col("id"),
          posexplode(call_function("minhash_band_hashes", col("sig"), lit(bands))))
        .toDF("id", "band", "h")
        .repartition(col("band")).sortWithinPartitions("h")
        .write.mode("errorifexists").partitionBy("band").parquet(s"$path/bands")
      val manifest = new org.apache.hadoop.fs.Path(path, "_INDEX.json")
      val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(manifest, false)
      try out.write(
        s"""{"shingle_k": $shingleK, "num_hashes": $numHashes, "bands": $bands, "shingle_rule": "$ShingleRule"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } finally payload.unpersist(blocking = false)
  }

  /** Near-duplicate pairs between a new batch and a frozen
    * [[writeMinhashIndex]] snapshot: `(id_a = incoming id, id_b = corpus
    * id, jaccard)` with the exact shingle-Jaccard ≥ `threshold` — the
    * same three-stage semantics as [[minhashPairs]] (bucket collision →
    * signature-estimate prune → exact refine), restricted to cross
    * pairs. The batch side BROADCASTS (bucket rows, then signatures), so
    * both index scans are probe-only: no corpus rows ever shuffle, and
    * per-batch cost is two index scans + work proportional to the
    * candidates. For corpus-sized "batches" use [[minhashPairs]] on the
    * union instead — broadcasting a corpus is the wrong plan. */
  def nearDupsAgainstIndex(incoming: DataFrame, idCol: String, textCol: String,
                           path: String, threshold: Double = 0.7): DataFrame = {
    val spark = incoming.sparkSession
    Graft.register(spark)
    val manifest = new org.apache.hadoop.fs.Path(path, "_INDEX.json")
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(manifest)
    val params = try {
      val bytes = new Array[Byte](fs.getFileStatus(manifest).getLen.toInt)
      in.readFully(bytes)
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    } finally in.close()
    val (shingleK, numHashes, bands) =
      (params.path("shingle_k").asInt(), params.path("num_hashes").asInt(),
        params.path("bands").asInt())
    require(shingleK > 0 && numHashes > 0 && bands > 0, s"corrupt index manifest: $params")
    require(params.path("shingle_rule").asText() == ShingleRule,
      s"the MinHash index at $path predates shingle_rule $ShingleRule; rebuild it with writeMinhashIndex")

    val margin = 1.75 / math.sqrt(numHashes.toDouble)
    val incPayload = track(incoming
      .select(col(idCol).as("inc_id"),
        call_function("minhash_signature", col(textCol), lit(shingleK), lit(numHashes)).as("sig_q"),
        call_function("sorted_shingles", col(textCol), lit(shingleK)).as("sh_q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val incBands = incPayload.select(col("inc_id"),
        posexplode(call_function("minhash_band_hashes", col("sig_q"), lit(bands))))
      .toDF("inc_id", "band", "h")
    val cand = spark.read.parquet(s"$path/bands")
      .join(broadcast(incBands), Seq("band", "h"))
      .select("inc_id", "id").distinct() // multi-band collisions collapse
    // (file sources force nullable array elements on read; the refine
    // kernels accept them — see the JaccardSorted nullability note)
    spark.read.parquet(s"$path/docs")
      .join(broadcast(cand), Seq("id"))
      .join(broadcast(incPayload), Seq("inc_id"))
      .where(call_function("sig_match_fraction", col("sig"), col("sig_q")) >=
        lit(threshold - margin))
      .withColumn("jaccard", call_function("jaccard_sorted", col("sh"), col("sh_q")))
      .where(col("jaccard") >= threshold)
      .select(col("inc_id").as("id_a"), col("id").as("id_b"), col("jaccard"))
  }

  /** MinHash + LSH near-duplicate pairs.
    * shingle(k) → `numHashes` minhash sig → `bands` band-hash buckets →
    * bucket equi-join for candidates → exact shingle-Jaccard refine ≥
    * `threshold`. Probability of catching a pair with Jaccard j is
    * 1-(1-j^(numHashes/bands))^bands (standard S-curve). */
  /** @param saltCap band buckets larger than this are split into
    *                 ceil(n/saltCap) salt groups and pairs enumerated via a
    *                 group-to-group join — the same pair set, but a hot
    *                 bucket's O(n²) work spreads over O((n/cap)²) tasks
    *                 instead of landing on one straggler (AQE's skew split
    *                 is BYTE-thresholded and never fires on narrow bucket
    *                 rows; a 12k-member bucket = 73M pairs on one core was
    *                 the measured sf1 straggler). 0 disables salting. */
  /** Band buckets up to this size enumerate raw narrow pairs; larger
    * buckets carry int signatures and est-prune inside the self-join.
    * The cap bounds the raw-pair volume reaching the distinct to
    * ≤ (cap−1)/2 pairs PER BUCKET ROW — linear in corpus size, with the
    * quadratic tail (chance collisions grow quadratically under a fixed
    * band config; measured at sf1: 50k docs → 1.18e9 enumerated / 3.3e8
    * distinct pairs, 425 s) confined to the est-pruned inline path. */
  private val InlineBucketCap = 64

  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
                   threshold: Double = 0.7, saltCap: Int = 2048): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    Graft.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // signatures feed three consumers (bucketing + both sides of the
    // estimate join): persist so the O(len·numHashes) pass runs once
    val sig = track(base.select(col("id"),
        call_function("minhash_signature", col("text"), lit(shingleK), lit(numHashes)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // Candidate generation is PER-BUCKET ADAPTIVE, decided inside the plan
    // by a window count over (band, h) — no driver-side probe jobs (the
    // r6 global-regime probe cost two extra jobs per call, ~0.5 s of pure
    // constant at sf0.1). Each bucket routes by its own size n:
    //  - n ≤ InlineBucketCap → narrow rows (id, band, h): raw pairs go to
    //    the distinct, but the cap bounds them to ≤ (cap−1)/2 per bucket
    //    row — LINEAR in corpus size, immune to the quadratic
    //    chance-collision tail (measured at sf1: 3.3e8 distinct pairs,
    //    425 s, all from buckets far above any sane cap);
    //  - n > InlineBucketCap → bucket rows carry the signature truncated
    //    to INTs (512 B/pair of traffic instead of 2 KB; truncated
    //    equality is an unbiased minhash agreement test up to 2^-32 per
    //    position) and the estimate prunes INSIDE the self-join, so the
    //    distinct only ever sees est-survivors. A SHORT prefix does not
    //    work: at n=32 the 3.5σ margin widens the cutoff to 0.19 while
    //    collisions inside prefix-covered bands carry a guaranteed
    //    4-match bias, and ~1/3 of chance pairs survived (measured). Full
    //    length keeps the r5-validated n=numHashes margin.
    //  - n > saltCap additionally splits into salt groups so the O(n²)
    //    enumeration spreads over O((n/cap)²) tasks instead of one
    //    straggler.
    // Every candidate pair then passes the same full-signature estimate
    // join-back and the exact-Jaccard refine (strictly tighter than any
    // estimate), so the routing never changes the final pair set.
    // Band hashes come from a native kernel (posexplode position = band).
    val buckets = sig.select(col("id"),
        posexplode(call_function("minhash_band_hashes", col("sig"), lit(bands))))
      .toDF("id", "band", "h")

    import org.apache.spark.sql.expressions.Window
    // ONE (band, h) exchange per call, sized and cached: the narrow
    // self-join's two sides and the salted branch's two sides all read
    // this frame, and Spark does not reuse the exchange across them (the
    // posexplode Generate under it keeps branch-specific output ids), so
    // uncached the same bucket rows shuffled four times per call. AQE also
    // coalesced each of those byte-small reads into ONE task, and the
    // window count ran four times on one core: measured on a 4-core
    // corpus_dedup pass, 4 × 1.53 MB of shuffle writes and 4 single-task
    // window stages of 170–220 ms CPU each, ~490 ms of a 1.24 s minhash
    // stage. The explicit-width repartition (the spreadPairs pattern) is
    // exempt from AQE coalescing, so the window runs at the session's
    // shuffle width, once; releaseCaches frees the cache like `sig`.
    val sized = track(buckets
      .repartition(buckets.sparkSession.sessionState.conf.numShufflePartitions,
        col("band"), col("h"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("band", "h")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // a forced salt cap below the inline cap must also force the inline
    // path, so the salted sub-plan sees every bucket it is asked to split
    val inlineCap = if (saltCap > 0) math.min(InlineBucketCap, saltCap)
                    else InlineBucketCap

    // small buckets: narrow self-join on (band, h) — the cached frame is
    // already hash-partitioned by the join key, so no extra exchange
    val small = sized.where(col("n") <= inlineCap).select("id", "band", "h")
    val candNarrow = small.toDF("id_a", "band", "h")
      .join(small.toDF("id_b", "band", "h"), Seq("band", "h"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")

    // big buckets: carry the int signature, est-prune inline, salt when
    // over saltCap (members get a deterministic salt group s in [0, g);
    // the left side replicates each member to every target group t ≥ s,
    // the right side joins on its own group, so every unordered pair
    // meets exactly once across (band, h, t) keys; same-group pairs meet
    // in both orders — canonicalize + distinct collapses them, which the
    // cross-band dropDuplicates needs anyway)
    val pfx = sig.select(col("id"),
      call_function("sig_prefix", col("sig"), lit(numHashes)).as("pfx"))
    val margin = 1.75 / math.sqrt(numHashes.toDouble)
    val estKeepInt = call_function("sig_match_fraction_int", col("pfx_a"), col("pfx_b")) >=
      lit(threshold - margin)
    val big = sized.where(col("n") > inlineCap)
      .withColumn("g",
        if (saltCap > 0) greatest(lit(1L), ceil(col("n") / lit(saltCap.toDouble))).cast("int")
        else lit(1))
      .withColumn("s", pmod(xxhash64(col("id")), col("g")).cast("int"))
    val left = big.select(col("id").as("id_a"), col("band"), col("h"),
        explode(expr("sequence(s, g - 1)")).as("t"))
      .join(pfx.toDF("id_a", "pfx_a"), "id_a")
    val right = big.select(col("id").as("id_b"), col("band"), col("h"),
        col("s").as("t"))
      .join(pfx.toDF("id_b", "pfx_b"), "id_b")
    val candBig = left.join(right, Seq("band", "h", "t"))
      .where(col("id_a") =!= col("id_b") && estKeepInt)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))

    // Catalyst sizes `sig` from the WIDE text scan and would never
    // broadcast it; AQE re-plans the join-backs from true shuffle sizes
    // at runtime (BHJ when the signature table is actually small), so no
    // driver-side materialize-and-measure is needed.
    //
    // ONE pair shuffle for dedup + estimate + refine (round 15): the
    // spread moves ABOVE the cross-band dropDuplicates — the explicit-
    // width repartition hash-clusters exactly the dedup's grouping keys,
    // so the dedup aggregate runs in place (no second exchange), and the
    // broadcast join-backs preserve that partitioning all the way into
    // the refine. The previous shape shuffled the pair stream twice
    // (dropDuplicates, then spreadPairs) AND — worse — ran the
    // signature-estimate filter on the dropDuplicates output, whose
    // tiny-by-bytes exchange AQE coalesces into a handful of tasks: the
    // compute-heavy estimate was effectively serialized. Now dedup,
    // estimate, and refine all run at the pinned width.
    val est = spreadPairs(candNarrow.union(candBig))
      .dropDuplicates("id_a", "id_b") // same pair can collide in many bands
      .join(sig.toDF("id_a", "sig_a"), "id_a")
      .join(sig.toDF("id_b", "sig_b"), "id_b")
      .where(call_function("sig_match_fraction", col("sig_a"), col("sig_b")) >=
        lit(threshold - margin))
      .select("id_a", "id_b")

    // Stage 3 — exact refine: per-document sorted shingle-hash sets are
    // computed once, pairs evaluated by linear merge (no per-pair
    // re-shingling). Surviving pairs are 16-byte rows whose refine does
    // O(|doc|) work each, on the partitioning established above.
    val shingles = base.select(col("id"),
      call_function("sorted_shingles", col("text"), lit(shingleK)).as("sh"))
    // The result is a lazily cached frame: the first action fills the
    // cache, and a later one (a re-collect, [[clusters]]' probe and
    // checkpoint) reads it instead of re-running the candidate + refine
    // DAG. `persist`, not `localCheckpoint(eager = false)`: under AQE a
    // checkpoint executes every shuffle stage at call time, which would
    // make the operator eager. A released persist just recomputes, so
    // releaseCaches can never strand this result.
    track(est
      .join(shingles.toDF("id_a", "sh_a"), "id_a")
      .join(shingles.toDF("id_b", "sh_b"), "id_b")
      .withColumn("jaccard", call_function("jaccard_sorted", col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** SimHash near-duplicate pairs: 64-bit simhash, block-permutation LSH
    * (4×16-bit blocks → any pair with hamming ≤ 3 shares ≥ 1 block),
    * exact hamming refine via bit_count(xor). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    Graft.register(df.sparkSession)
    val sig = df.select(col(idCol).as("id"),
      call_function("simhash64", col(textCol)).as("sim"))
    val blocks = sig.select(col("id"), col("sim"),
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b as blk, shiftright(sim, b * 16) & 65535 as v))"
        )).as("block"))
      .select(col("id"), col("sim"), col("block.blk"), col("block.v"))
    val a = blocks.toDF("id_a", "sim_a", "blk", "v")
    val b = blocks.toDF("id_b", "sim_b", "blk", "v")
    a.join(b, Seq("blk", "v"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding near-duplicate pairs: multi-table hyperplane-LSH bucket join
    * + exact cosine refine ≥ `minCosine`.
    *
    * A pair is a candidate when ANY of the `tables` independent plane sets
    * agrees on all sign bits: recall = 1-(1-p^planes)^tables with
    * p = 1-θ/π. At cosine 0.95 / 8 planes / 8 tables that is > 0.999 —
    * the single-table variant (p^planes) would miss ~25% of true pairs.
    * Bucket rows carry only (id, table, bucket); vectors join back in for
    * the refine, so the candidate shuffle stays narrow.
    *
    * `planes = 0` / `tables = 0` (the defaults) size the tables to the
    * CORPUS: under a fixed plane count, chance in-bucket collisions grow
    * quadratically with corpus size (10× vectors in 2^8 buckets = 100× the
    * candidate pairs — measured as a 24× q_embed_dedup blowup at sf1), so
    * planes scales as log2(n / 16) and tables is then solved from the
    * recall the 8×8 default delivers at the decision boundary
    * (1-(1-p^planes)^tables ≥ 0.988 at cosine = minCosine). Either can be
    * pinned individually; pass both to fix the whole layout. Auto-sizing
    * counts the corpus, so `base` is cached for the count + the two
    * refine joins (same long-lived cache pattern as minhashPairs' `sig`:
    * recomputing an arbitrary upstream pipeline three times would cost
    * more than the cached (id, vec) frame). */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double = 0.95, planes: Int = 0,
                     tables: Int = 0): DataFrame = {
    Graft.register(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val (pl, tb) =
      if (planes > 0 && tables > 0) (planes, tables)
      else {
        track(base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        lshConfig(if (planes > 0) planes else -1,
          if (tables > 0) tables else -1, base.count(), minCosine)
      }
    val buckets = base.select(col("id"),
        posexplode(call_function("hyperplane_buckets", col("vec"), lit(pl), lit(tb))))
      .toDF("id", "tbl", "bucket")
    val cand = buckets.toDF("id_a", "tbl", "bucket")
      .join(buckets.toDF("id_b", "tbl", "bucket"), Seq("tbl", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    // same compute-vs-bytes mismatch as minhashPairs: the exact-cosine
    // refine does O(dim) work per 16-byte candidate row — keep it wide
    spreadPairs(cand)
      .join(base.toDF("id_a", "vec_a"), "id_a")
      .join(base.toDF("id_b", "vec_b"), "id_b")
      .withColumn("cosine", call_function("cosine_similarity", col("vec_a"), col("vec_b")))
      .where(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Corpus-sized hyperplane-LSH layout for [[embeddingPairs]].
    *
    * Planes target a mean bucket occupancy of ~16 under a uniform model
    * (planes = log2(n/16), floored at 8 so small corpora keep the
    * validated 8-plane layout, capped at 24 — the kernel's int buckets
    * allow 30). Tables then solve 1-(1-p^planes)^tables ≥ 0.988 at the
    * decision boundary p = 1 - acos(minCosine)/π — 0.988 is exactly what
    * the former fixed 8×8 layout delivered at cosine 0.95, so auto-sizing
    * never trades recall for speed: at n = 1000 it reproduces (8, 8)
    * verbatim, at n = 40k it picks (12, 14) — 16× fewer in-bucket chance
    * pairs for 1.75× more tables.
    *
    * @param planes -1 to derive from n, else used as-is
    * @param tables -1 to solve for boundary recall, else used as-is
    */
  private[operators] def lshConfig(planes: Int, tables: Int, n: Long,
                                   minCosine: Double): (Int, Int) = {
    val pl =
      if (planes > 0) planes
      else math.min(24, math.max(8,
        math.ceil(math.log(math.max(1L, n) / 16.0) / math.log(2.0)).toInt))
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, minCosine))) / math.Pi
    val missPerTable = 1.0 - math.pow(p, pl)
    val tb =
      if (tables > 0) tables
      else if (missPerTable <= 0.0) 1 // minCosine = 1: any table catches exact dups
      else math.min(64, math.max(1,
        math.ceil(math.log(1.0 - BoundaryRecall) / math.log(missPerTable)).toInt))
    (pl, tb)
  }

  /** Recall [[lshConfig]] guarantees for a pair sitting exactly at
    * `minCosine` — the value the historical fixed 8-plane × 8-table layout
    * delivered at cosine 0.95. Pairs above the boundary do strictly
    * better (the planted gate pairs at cosine ≈ 0.9988 miss with
    * probability < 1e-10 under every layout this produces). */
  private val BoundaryRecall = 0.988

  /** Narrow (id_a, id_b) candidate frames under-parallelize their refine
    * stage: AQE coalesces shuffle partitions by BYTES, and 16-byte pair
    * rows make every downstream compute-heavy stage look tiny. An
    * explicit-count repartition (exempt from AQE coalescing) pins the
    * session's configured shuffle width. */
  private def spreadPairs(cand: DataFrame): DataFrame = {
    val width = cand.sparkSession.sessionState.conf.numShufflePartitions
    cand.repartition(width, col("id_a"), col("id_b"))
  }

  /** Connected components over a duplicate-pair edge list: assigns each id
    * the minimum id reachable through pairs ("cluster"), ids compared in
    * Spark SQL's ordering for their type (strings in UTF-8 byte order, as
    * SQL `min` orders them). Small edge lists run a driver union-find;
    * larger ones min-label propagation + pointer jumping, O(log diameter)
    * rounds, as a vertex program on the graph operators' loop
    * ([[Graphs.components]]: the undirected pair adjacency is built once,
    * and each round moves ≤ P² label blocks per shuffle). Duplicate
    * clusters are shallow in practice, so this converges in a handful of
    * rounds; if `maxIterations` rounds pass without convergence the call
    * raises an IllegalStateException rather than return unconverged
    * labels. Any atomic id type with value equality works (integral,
    * string, date, timestamp, decimal, ...); binary and complex ids fail
    * up front, and a null id fails on either path. `pairs` is executed at
    * most once: an uncached input is cached for the call and unpersisted
    * before returning; a frame the caller persisted or checkpointed is
    * read as is and left to the caller.
    *
    * @param reliableCheckpoint when true, the distributed path writes its
    *                            label state to the cluster-durable
    *                            checkpoint dir every round (set
    *                            `sc.setCheckpointDir` first), bounding the
    *                            lineage a lost executor replays — for long
    *                            multi-hour runs on a real cluster. When
    *                            false, each round's state is cached and the
    *                            lineage is kept.
    * @param smallGraphThreshold pair counts at or below this run a driver
    *                            union-find on the collected edge list instead
    *                            of iterative rounds. Near-dup edge lists
    *                            are tiny relative to the corpus (the 100 TB
    *                            corpus is what stays distributed — dedup
    *                            already reduced it to pairs), so this is the
    *                            broadcast-join analogue: small side local,
    *                            big graphs still take the distributed path.
    *                            0 disables. */
  def clusters(pairs: DataFrame, maxIterations: Int = 20,
               reliableCheckpoint: Boolean = false,
               smallGraphThreshold: Long = 1L << 20): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    if (reliableCheckpoint)
      require(sc.getCheckpointDir.isDefined,
        "reliableCheckpoint=true needs sc.setCheckpointDir(<cluster-durable path>)")
    val idType = pairs.schema("id_a").dataType
    // both paths key and compare ids by their value
    require(TypeUtils.typeWithProperEquals(idType),
      s"clusters: id type ${idType.simpleString} has no value equality")

    // ONE execution of the pair DAG serves the probe and, when the graph
    // is too big for the driver, the distributed edge build. A minhash
    // result (already cached), a caller-persisted frame and a frame read
    // from checkpoints (a re-read is a block read, not a pipeline run) are
    // read as is. Any other input is cached for this call only and
    // unpersisted before returning — nothing returned references it — so
    // a caller's own cache or checkpoint is never released here.
    val probe = smallGraphThreshold > 0
    import org.apache.spark.storage.StorageLevel
    val ownCache = probe && pairs.storageLevel == StorageLevel.NONE &&
      checkpointRdds(pairs).isEmpty
    val input = if (ownCache) pairs.persist(StorageLevel.MEMORY_AND_DISK) else pairs
    // id_b reads as id_a's type (a no-op cast when they already agree)
    val ids = input.select(col("id_a"), col("id_b").cast(idType))
    def releaseOwnCache(): Unit = if (ownCache) input.unpersist(blocking = false)
    // which path ran (and how many rounds) shows as the job description:
    // `dedup.clusters: driver union-find` (the probe, which collects the
    // whole edge list when it is small) or `dedup.clusters: distributed,
    // <R> rounds` (R counts the rounds started so far, so the last job
    // carries the total; `0 rounds: adjacency` is the edge exchange)
    try describing(sc, "dedup.clusters") { describe =>
      // limit-bounded probe: fetches at most threshold+1 rows, so deciding
      // the path never materializes a billion-edge list on the driver.
      // The driver path consumes the edge list exactly once — right here.
      // It runs only when the probe provably fetched the COMPLETE edge
      // list (compare against the limit actually applied, not the
      // threshold: a threshold >= Int.MaxValue-1 must not let a truncated
      // list through).
      val complete = if (!probe) None else {
        describe("driver union-find")
        val appliedLimit = math.min(smallGraphThreshold + 1, (Int.MaxValue - 1).toLong).toInt
        Some(ids.limit(appliedLimit).collect()).filter(_.length < appliedLimit)
      }
      complete match {
        case Some(sample) => clustersOnDriver(pairs.sparkSession, sample, idType)
        case None =>
          Graphs.components(ids, maxIterations, reliableCheckpoint, () => releaseOwnCache(), describe)
      }
    } finally releaseOwnCache() // a no-op once released
  }

  /** `SparkContext.SPARK_JOB_DESCRIPTION` (private to Spark). */
  private val JobDescription = "spark.job.description"

  /** Runs `body` with a `describe(what)` that labels every job submitted
    * from then on `<op>: <what>` (the job description the UI and every
    * listener show), and restores the caller's description when `body`
    * ends, however it ends. How [[clusters]] and the [[Graphs]] loops
    * say which path or phase ran each job. */
  private[operators] def describing[T](sc: org.apache.spark.SparkContext, op: String)(
      body: (String => Unit) => T): T = {
    val prior = sc.getLocalProperty(JobDescription)
    try body(what => sc.setJobDescription(s"$op: $what"))
    finally sc.setLocalProperty(JobDescription, prior)
  }

  /** Reads a row's `(id_a, id_b)` as internal values, the keys the
    * driver union-find hashes and orders; a null id fails the call. */
  private def idPair(idType: DataType): Row => (Any, Any) = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(idType)
    r => {
      require(!r.isNullAt(0) && !r.isNullAt(1), "clusters: id_a/id_b must not be null")
      (toInternal(r.get(0)), toInternal(r.get(1)))
    }
  }

  /** The `(id, cluster)` schema of [[clusters]]' result. */
  private[operators] def clusterSchema(idType: DataType) = {
    import org.apache.spark.sql.types.{StructField, StructType}
    StructType(Seq(StructField("id", idType, nullable = false),
      StructField("cluster", idType, nullable = false)))
  }

  /** Driver union-find with path halving over the complete, collected edge
    * list; O(E α(E)) on ≤ threshold edges. Ids are keyed by their internal
    * value and unioned by MIN root under Spark SQL's ordering, so the final
    * label is the min reachable id, matching [[Graphs.components]]. */
  private def clustersOnDriver(spark: org.apache.spark.sql.SparkSession,
                               sample: Array[Row], idType: DataType): DataFrame = {
    val read = idPair(idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    val ids = new java.util.LinkedHashSet[Any]() // first-seen order
    sample.foreach { r =>
      val (a, b) = read(r)
      ids.add(a); ids.add(b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    import scala.jdk.CollectionConverters._
    val rows = ids.asScala.toSeq.map(id => Row(toScala(id), toScala(find(id))))
    spark.createDataFrame(rows.asJava, clusterSchema(idType))
  }

  /** End-to-end near-duplicate removal: MinHash-LSH pairs → connected
    * components → keep only each cluster's minimum id. Returns the rows of
    * `df` that survive. */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         shingleK: Int = 5, numHashes: Int = 128, bands: Int = 32,
                         threshold: Double = 0.8): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleK, numHashes, bands, threshold)
    val victims = clusters(pairs)
      .where(col("id") =!= col("cluster")) // keep cluster representative
      .select(col("id").as(idCol))
    df.join(victims, Seq(idCol), "left_anti")
  }

  /** N-gram-Jaccard duplicate report for a candidate pair set (exact
    * refinement used standalone when candidates come from elsewhere). */
  def jaccardRefine(pairs: DataFrame, textA: String, textB: String,
                    shingleK: Int, threshold: Double): DataFrame = {
    Graft.register(pairs.sparkSession)
    pairs.withColumn("jaccard",
        call_function("jaccard_shingles", col(textA), col(textB), lit(shingleK)))
      .where(col("jaccard") >= threshold)
  }
}
