package graft.streaming

import graft.operators.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets

/** Streaming CDC upsert sink: maintain a keyed snapshot table on disk by
  * applying each micro-batch of changes (key, seq, op, payload) through
  * [[Layout.mergeChanges]] — the streaming counterpart of the batch
  * MERGE, with the two properties a sink needs:
  *
  *   - **Exactly-once across replays.** The manifest records the last
  *     applied `batchId`; a replayed micro-batch (foreachBatch re-runs
  *     after failure) is skipped by id. Even without the id check the
  *     apply is idempotent — latest-seq-wins winners are stable and
  *     delete-of-absent / overwrite-with-same are no-ops — but the id
  *     check also skips the wasted rewrite.
  *   - **Bucket-pruned rewrites.** The snapshot hash-clusters into
  *     `numBuckets` buckets by `xxhash64(key)`; a micro-batch rewrites
  *     ONLY the buckets its keys land in, and the new manifest points
  *     untouched buckets at their existing files. At 100 TB this is the
  *     difference between rewriting gigabytes and rewriting the table:
  *     rewrite cost scales with the CHANGE batch's key spread, not the
  *     snapshot size (the lakehouse copy-on-write MERGE shape; size
  *     `numBuckets` so one bucket ≈ a comfortable rewrite unit).
  *
  * Disk layout: `path/delta/b<batchId>/__bucket=<k>/…` immutable bucket
  * dirs; `path/_manifest/m<batchId>.json` mapping every bucket to the
  * delta dir currently holding it; `path/_manifest/_ptr.v<n>` →
  * manifest name — the CURRENT pointer is the highest version, each
  * committed by a plain rename-without-overwrite (atomic on every
  * FileSystem; readers see the old or the new manifest, never a mix
  * and never a missing pointer — see [[writeManifest]]). A legacy
  * single-file `path/_CURRENT` still reads as a fallback. Superseded
  * delta dirs stay on disk until [[vacuum]] drops them (they are what
  * makes the swap safe for in-flight readers).
  *
  * ALL paths resolve through the Hadoop FileSystem API — local disk,
  * HDFS, or any object store the session's Hadoop configuration knows;
  * Spark writes the data files and the same FileSystem handles the
  * manifest/pointer/bucket-listing metadata, so the sink never mixes
  * driver-local filesystem views with cluster-visible ones.
  *
  * Wire it with `changes.writeStream.foreachBatch(sink(spark, path,
  * …))`, or drive [[applyBatch]] directly batch by batch.
  */
object UpsertSink {

  private val BucketCol = "__bucket"

  /** The changefeed's classification column (insert/update/delete) —
    * the Delta-CDF spelling, underscored so it cannot collide with any
    * plausible user payload name; [[readChanges]] refuses the rare
    * store that uses it anyway. */
  val ChangeTypeCol = "_change_type"

  /** Crashed-swap `.ptr.tmp.*` files younger than this survive [[vacuum]]:
    * an in-flight [[writeManifest]] writes its tmp pointer moments before
    * renaming it in, and a vacuum racing that writer must not delete the
    * file out from under the rename. 15 minutes dwarfs any real
    * write-then-rename gap while still reclaiming genuinely orphaned tmps. */
  private[streaming] val TmpPointerGraceMs: Long = 15L * 60 * 1000

  /** Driver-side metadata RPCs (exists / listStatus / listFiles) issued by
    * the sink's own maintenance code — NOT Spark's job-side IO. Tests pin
    * the scale contract on it: per apply/compaction the count is a small
    * CONSTANT, never O(numBuckets) — at production bucket counts
    * (thousands) per-bucket probes would be thousands of sequential
    * LIST/HEAD RPCs against an object store before any manifest could
    * swap. */
  private[streaming] val metaOps = new java.util.concurrent.atomic.AtomicLong(0)
  @inline private def counted[T](t: => T): T = { metaOps.incrementAndGet(); t }

  /** Snapshot table manifest. Beyond the batch id and bucket map it
    * pins the LAYOUT CONTRACT — `numBuckets`, the key column, and the
    * snapshot schema (key + payloads, as Spark DDL). The bucket of a
    * key is `pmod(xxhash64(key), numBuckets)`, and xxhash64 output
    * depends on the key's Spark TYPE (an INT 5 and a BIGINT 5 hash
    * differently) — so a later caller passing a different bucket
    * count or key type would probe/rewrite the WRONG buckets and
    * silently corrupt the snapshot (missed deletes, duplicate keys).
    * [[applyBatch]] therefore fails fast on any layout mismatch.
    *
    * A LEGACY manifest (written before the contract fields existed)
    * reads back with `numBuckets = -1` and empty `key`/`schemaDdl`:
    * the snapshot stays readable, the layout checks are skipped for
    * that one apply (nothing recorded to check against), and the next
    * successful apply rewrites the manifest with the full contract.
    *
    * `sortBy` is the recorded WITHIN-BUCKET sort (the second
    * data-skipping dimension: hash buckets route key equality, parquet
    * row-group min/max stats on a sorted column prune RANGES — which
    * hash distribution can never do). Unlike the key/bucket fields it
    * is a write-side LAYOUT PREFERENCE, not a correctness contract:
    * each apply writes its own batch sorted by its own `sortBy` and
    * records the latest, mixed-era dirs merely skip less, and
    * [[compactSnapshot]] re-sorts everything it merges to the current
    * recording — the Delta OPTIMIZE/ZORDER shape, a maintenance
    * property rather than a constraint. */
  case class Manifest(batchId: Long, numBuckets: Int, key: String,
                      schemaDdl: String, buckets: Map[Int, String],
                      sortBy: Seq[String] = Nil,
                      bloomKey: Boolean = false) {
    def hasLayout: Boolean = numBuckets > 0
  }

  // ---- Hadoop-FS metadata IO ------------------------------------------

  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsOf(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(hadoopConf())

  private def manifestDir(path: String) =
    new org.apache.hadoop.fs.Path(path, "_manifest")
  /** Legacy single-file pointer (pre versioned pointers); still READ as
    * a fallback so old stores open, never written anymore. */
  private def legacyPtr(path: String) =
    new org.apache.hadoop.fs.Path(path, "_CURRENT")

  private def ptrSeq(name: String): Option[Long] =
    if (name.startsWith("_ptr.v")) name.stripPrefix("_ptr.v").toLongOption
    else None

  /** Resolves the current pointer: the HIGHEST-versioned
    * `_manifest/_ptr.v<n>` file (each committed by a plain
    * rename-without-overwrite — atomic on every FileSystem; see
    * [[writeManifest]] for why rename-with-OVERWRITE is not), falling
    * back to the legacy `_CURRENT` file for pre-upgrade stores.
    * Returns (pointerSeq, manifestName); seq -1 marks the legacy path. */
  private def currentPointer(path: String): Option[(Long, String)] = {
    val mdir = manifestDir(path)
    val f = fsOf(mdir)
    val vs =
      if (!counted(f.exists(mdir))) Array.empty[(Long, org.apache.hadoop.fs.Path)]
      else counted(f.listStatus(mdir)).filter(_.isFile)
        .flatMap(e => ptrSeq(e.getPath.getName).map(_ -> e.getPath))
    if (vs.nonEmpty) {
      val (seq, p) = vs.maxBy(_._1)
      Some(seq -> readText(f, p).trim)
    } else {
      val ptr = legacyPtr(path)
      if (counted(f.exists(ptr))) Some(-1L -> readText(f, ptr).trim) else None
    }
  }

  private def readText(f: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeText(f: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = f.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def jsonEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def jsonUnescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Snapshot-schema DDL for a change frame: key + payload columns,
    * name and type only (nullability normalized — merge output
    * nullability is not part of the layout contract). Validates the
    * columns exist FIRST, so a typo'd payload name fails with the
    * column list, not a schema-lookup stack trace. */
  private def snapshotDdl(df: DataFrame, key: String,
                          payloadCols: Seq[String]): String = {
    val missing = (key +: payloadCols).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"changes is missing columns: ${missing.mkString(", ")}")
    org.apache.spark.sql.types.StructType(
      (key +: payloadCols).map(c =>
        org.apache.spark.sql.types.StructField(c, df.schema(c).dataType)))
      .toDDL
  }

  /** The current manifest, or None before the first applied batch. */
  def readManifest(path: String): Option[Manifest] =
    currentPointer(path).map { case (_, name) => readManifestFile(path, name) }

  private def readManifestFile(path: String, name: String): Manifest = {
    val f = fsOf(manifestDir(path))
    val txt = readText(f,
      new org.apache.hadoop.fs.Path(manifestDir(path), name))
    // flat hand-rolled JSON:
    // {"batchId":N,"numBuckets":K,"key":"id","schema":"id BIGINT,…",
    //  "buckets":{"0":"delta/b0",…}}
    def fail() = sys.error(s"malformed manifest $name")
    val id = """"batchId"\s*:\s*(-?\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(fail()).group(1).toLong
    // layout-contract fields are OPTIONAL on read: a pre-contract
    // manifest is legacy, not malformed
    val nb = """"numBuckets"\s*:\s*(\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(-1)
    val key = """"key"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    val ddl = """"schema"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
    // bucket pairs parse only inside the TRAILING "buckets" object
    // (lastIndexOf: the writer emits it last, so an escaped "buckets"
    // inside a pathological key/schema value cannot shadow it), so a
    // numeric-looking column name in the schema can't collide either
    val bucketsTxt = txt.substring(txt.lastIndexOf("\"buckets\""))
    val pairs = """"(\d+)"\s*:\s*"([^"]*)"""".r.findAllMatchIn(bucketsTxt)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
    // optional (absent on pre-sortBy manifests → Nil); parsed from the
    // PRE-buckets text so a bucket path can't shadow it
    val headTxt = txt.substring(0, txt.lastIndexOf("\"buckets\""))
    val sortBy = """"sortBy"\s*:\s*\[((?:[^\]\\]|\\.)*)\]""".r
      .findFirstMatchIn(headTxt).map(_.group(1)).toSeq.flatMap(inner =>
        """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(inner)
          .map(m => jsonUnescape(m.group(1))))
    val bloom = """"bloomKey"\s*:\s*(true|false)""".r
      .findFirstMatchIn(headTxt).exists(_.group(1) == "true")
    Manifest(id, nb, jsonUnescape(key), jsonUnescape(ddl), pairs, sortBy,
      bloom)
  }

  /** Writes manifest `name` and atomically swaps `_CURRENT` to it.
    * Names encode the batchId (`m<id>.json` for applies,
    * `m<id>.c<nonce>.json` for compactions — same id: a compaction
    * changes layout, never state), which is what [[vacuum]]'s
    * strictly-older guard parses. */
  private def writeManifest(path: String, m: Manifest,
                            name: String): Unit = {
    val mdir = manifestDir(path)
    val f = fsOf(mdir)
    f.mkdirs(mdir)
    val body = s"""{"batchId":${m.batchId},"numBuckets":${m.numBuckets},""" +
      s""""key":"${jsonEscape(m.key)}","schema":"${jsonEscape(m.schemaDdl)}",""" +
      s""""sortBy":[${m.sortBy.map(c => s""""${jsonEscape(c)}"""").mkString(",")}],""" +
      s""""bloomKey":${m.bloomKey},""" +
      s""""buckets":{""" +
      m.buckets.toSeq.sortBy(_._1)
        .map { case (b, d) => s""""$b":"$d"""" }.mkString(",") + "}}"
    writeText(f, new org.apache.hadoop.fs.Path(mdir, name), body)
    // pointer swap: a NEW `_ptr.v<n>` file committed by a plain
    // rename-WITHOUT-overwrite — the primitive that is atomic on every
    // FileSystem. The previous design renamed OVER a single `_CURRENT`
    // with Options.Rename.OVERWRITE, which is atomic on HDFS but the
    // local AbstractFileSystem implements it as delete-then-rename: the
    // concurrent-reads spec caught a reader observing NO pointer at all
    // mid-swap. Readers resolve the HIGHEST version, so the new pointer
    // becomes visible exactly when its rename lands; the superseded
    // pointer FILE survives hygiene (newest two always kept), so a
    // reader that listed just before the swap can still open its pick —
    // what that pointer NAMES stays readable per the retention/grace
    // contract ([[vacuum]]).
    val existingStatus = counted(f.listStatus(mdir)).filter(e =>
      e.isFile && ptrSeq(e.getPath.getName).isDefined)
    val seq = 1L + existingStatus
      .flatMap(e => ptrSeq(e.getPath.getName)).foldLeft(-1L)(math.max)
    val tmp = new org.apache.hadoop.fs.Path(mdir,
      s".ptr.tmp.${java.lang.Long.toHexString(System.nanoTime())}")
    writeText(f, tmp, name)
    val ptr = new org.apache.hadoop.fs.Path(mdir, s"_ptr.v$seq")
    require(f.rename(tmp, ptr), s"pointer swap failed: $tmp -> $ptr")
    // opportunistic pointer hygiene (writer-side, no vacuum needed):
    // pointer files accrete one per swap; drop those BOTH outside the
    // newest two (vacuum's keep-2 rule) AND older than the grace window
    // — the age guard keeps a fast micro-batch stream from shrinking a
    // slow reader's list-then-open window to two swap intervals (a
    // reader stalled LONGER than the grace mid-resolution is outside
    // the one-query-lifetime contract vacuum already documents). A
    // vacuum-free long-lived stream is still bounded: nothing older
    // than the grace survives beyond the newest two. Best-effort
    // deletes: a concurrent vacuum may have swept them first, and
    // single-writer discipline means nobody else is ADDING versions.
    val cutoff = System.currentTimeMillis() - TmpPointerGraceMs
    existingStatus.foreach { e =>
      val stale = ptrSeq(e.getPath.getName).exists(_ < seq - 1) &&
        e.getModificationTime < cutoff
      if (stale) {
        try f.delete(e.getPath, false)
        catch { case _: java.io.IOException => () }
      }
    }
  }

  private def bucketDir(path: String, delta: String, b: Int): String =
    s"$path/$delta/$BucketCol=$b"

  /** The ONE delta-dir write shape ([[applyBatch]] and
    * [[compactSnapshot]] share it): co-locate each bucket in one task
    * before partitionBy — without the repartition every write task
    * emits a file into every bucket dir (tasks × buckets small files,
    * the scan-side death of the layout; the Ivf.writeIndexed
    * precedent) — and, when a within-bucket sort is recorded, order
    * rows by (bucket, sortBy…) so each bucket's file carries
    * monotone parquet row-group min/max on the sort columns
    * (FileFormatWriter sees the partition column as a sort prefix and
    * adds no sort of its own, so the row order written IS this one). */
  private def writeBucketed(df: DataFrame, dest: String,
                            sortBy: Seq[String],
                            bloomCol: Option[String] = None,
                            prePartitioned: Boolean = false): Unit = {
    // prePartitioned: the caller's plan already hash-clusters each
    // bucket into one partition (applyBatch's bucket-grouped winner
    // aggregation) — a repartition here would re-shuffle the merged
    // payload a second time for nothing
    val parted = if (prePartitioned) df else df.repartition(col(BucketCol))
    val arranged =
      if (sortBy.isEmpty) parted
      else parted.sortWithinPartitions((BucketCol +: sortBy).map(col): _*)
    // bloomCol: parquet's NATIVE column bloom filter on the key — what
    // lets an EQUALITY probe reject row groups inside the routed bucket
    // (the absent-key lookup reads footers only, never data pages;
    // sorted min/max can't do this for a non-sort key, and the adaptive
    // builder sizes the filter from the data, no NDV guess needed)
    val writer = bloomCol.foldLeft(arranged.write) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    writer.mode("overwrite").partitionBy(BucketCol).parquet(dest)
  }

  /** Parses a `__bucket=<n>` partition-dir name — the ONE place the
    * on-disk bucket naming is interpreted (applyBatch's written-set
    * probe, compactSnapshot's live stat and post-write check all go
    * through here, so the probes can never disagree). */
  private def bucketIdOf(name: String): Option[Int] =
    if (name.startsWith(s"$BucketCol="))
      name.stripPrefix(s"$BucketCol=").toIntOption
    else None

  /** Union-read of specific live `(bucket, deltaDir)` entries. Buckets
    * GROUP BY their delta dir and read through ONE relation per dir
    * with `basePath`, so the plan is a #deltaDirs-way union, not a
    * #buckets-way one — at production bucket counts (thousands) a
    * per-bucket union would be a driver-plan bottleneck before the
    * first task ran. The `__bucket` path-partition column comes back
    * from partition discovery; `keepBucket=false` drops it (snapshot
    * readers see key+payloads only), `true` keeps it (compaction
    * rewrites need the routing).
    *
    * `conformTo`: the snapshot schema every per-dir relation is
    * conformed to — a dir written BEFORE an additive schema evolution
    * lacks the newer payload columns, which read as typed NULLs (the
    * mergeSchema contract); extra physical columns prune away. Order
    * follows the schema, so mixed-era dirs union positionally clean. */
  private def readBuckets(spark: SparkSession, path: String,
                          entries: Seq[(Int, String)],
                          keepBucket: Boolean,
                          conformTo: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] =
    entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, bs) =>
      val df = spark.read.option("basePath", s"$path/$d")
        .parquet(bs.map(_._1).sorted.map(b => bucketDir(path, d, b)): _*)
      val conformed = conformTo match {
        case None => df
        case Some(schema) =>
          val extra = if (keepBucket) Seq(col(BucketCol)) else Nil
          df.select(conformCols(df, schema) ++ extra: _*)
      }
      if (keepBucket) conformed else conformed.drop(BucketCol)
    }.reduceOption(_ unionByName _)

  /** The conform-to-schema projection the sink's readers share: each
    * schema column as-is when present, a typed NULL when the frame
    * predates it (additive evolution), extras dropped. ONE definition —
    * the batch readers ([[readBuckets]]) and the streaming source's
    * declared-schema guard must never diverge. */
  private[streaming] def conformCols(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.Column] = {
    val have = df.columns.toSet
    schema.fields.toSeq.map(f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name))
  }

  /** The bucket-routing expression — THE layout contract: [[applyBatch]]
    * writes with it and the pruned reads ([[readSnapshotKeys]]) probe
    * with it, through this one definition, so they can never disagree.
    * xxhash64 is TYPE-sensitive (an INT 5 and a BIGINT 5 hash
    * differently), which is why the manifest records the key's DDL type
    * and the readers cast their probes to it first. */
  private def bucketExpr(key: String, numBuckets: Int) =
    pmod(xxhash64(col(key)), lit(numBuckets)).cast("int")

  /** The current snapshot as a DataFrame. An all-rows-deleted snapshot
    * (empty bucket map) still returns a correctly-TYPED empty frame —
    * the schema rides in the manifest, so downstream selects of the
    * key/payload columns keep resolving. */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    snapshotOf(spark, path, readManifest(path).getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet")))

  /** The current manifest with a FULL layout contract, for the pruned
    * reads: a legacy manifest records neither bucket count nor key
    * type, so there is nothing to route probes with. */
  private def layoutManifest(path: String): Manifest = {
    val m = readManifest(path).getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet"))
    require(m.hasLayout,
      s"snapshot at $path has a legacy manifest with no recorded layout; " +
        "apply a batch to upgrade it before key-pruned reads")
    m
  }

  private def keyTypeOf(m: Manifest): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)(m.key).dataType

  /** Union-read of just the buckets in `wanted`, conformed to
    * `conformTo` (typed NULLs for columns an older dir predates); a
    * lookup whose keys all hash to absent buckets (nothing ever written
    * there, or deleted empty) still returns a correctly-typed empty
    * frame. */
  private def prunedRead(spark: SparkSession, path: String, m: Manifest,
                         wanted: Set[Int],
                         conformTo: org.apache.spark.sql.types.StructType)
      : DataFrame =
    readBuckets(spark, path,
        m.buckets.toSeq.filter { case (b, _) => wanted(b) },
        keepBucket = false, conformTo = Some(conformTo))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], conformTo))

  /** Bucket-PRUNED point lookup: the current snapshot's rows whose key
    * is one of `keys`, reading ONLY the buckets those keys hash to.
    * This is the data-skipping story of a hash-bucketed layout: min/max
    * file stats cannot prune hash-distributed keys (every bucket spans
    * the full key range), but equality CAN route — each literal hashes
    * to exactly one bucket, so a point read costs O(keys touched
    * buckets), not O(table). At production scale (thousands of buckets,
    * 100 TB) that is the difference between opening a handful of files
    * and scanning the snapshot; the plan never lists, opens, or
    * schedules tasks for any pruned bucket (`df.inputFiles` is the
    * spec's witness).
    *
    * `keys` are DRIVER-side literals (a bounded in-clause — the probe
    * list rides in the plan); for a large or distributed probe set use
    * the DataFrame overload, which semi-joins instead. Keys cast to the
    * manifest's recorded key type before hashing (xxhash64 is
    * type-sensitive — see [[bucketExpr]]); keys absent from the
    * snapshot simply match nothing. */
  def readSnapshotKeys(spark: SparkSession, path: String,
                       keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "readSnapshotKeys: keys must be non-empty")
    val m = layoutManifest(path)
    val keyType = keyTypeOf(m)
    val keyLits = keys.map(k => lit(k).cast(keyType))
    val wanted = keys.map(k => bucketOfLiteral(m, k)).toSet
    prunedRead(spark, path, m, wanted,
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
      .filter(col(m.key).isInCollection(keyLits))
  }

  /** DRIVER-SIDE bucket routing of one key literal — the same hash
    * [[applyBatch]] writes with (cast first: xxhash64 is type-sensitive
    * and the writer hashed the key at the manifest's recorded type),
    * evaluated as interpreted Catalyst over resolved literals so no
    * Spark job runs. Shared by [[readSnapshotKeys]] and the
    * `graft-snapshot` relation's filter pushdown
    * ([[graft.sources.snapshot.SnapshotRelation]]) — one routing
    * definition, so a pushed `WHERE key = x` can never probe a
    * different bucket than the writer used. */
  private[graft] def bucketOfLiteral(m: Manifest, k: Any): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
    val cast = Cast(Literal(k), keyTypeOf(m), Some("UTC"))
    Pmod(new XxHash64(Seq(cast)), Literal(m.numBuckets.toLong))
      .eval().asInstanceOf[Long].toInt
  }

  /** The layout-bearing manifest a table scan binds to: the CURRENT one,
    * or — `versionAsOf` — the [[readSnapshotAt]] selection (largest
    * committed id ≤ the ask). Bridge for the `graft-snapshot` relation,
    * which needs the manifest ONCE at resolution (schema) and again at
    * scan build (bucket map), under the same rules as every other
    * reader. */
  private[graft] def manifestForScan(path: String,
                                     versionAsOf: Option[Long]): Manifest = {
    val m = versionAsOf match {
      case Some(v) => manifestAtVersion(path, v)
      case None => readManifest(path).getOrElse(
        throw new IllegalStateException(s"no snapshot at $path yet"))
    }
    require(m.hasLayout,
      s"snapshot at $path has a legacy manifest with no recorded layout; " +
        "apply a batch to upgrade it before table scans")
    m
  }

  /** Conformed union read of `m`'s buckets, restricted to `wanted` when
    * given (IO-level pruning; `None` = full snapshot) — the scan half of
    * the `graft-snapshot` relation, kept here so it goes through the
    * same [[readBuckets]]/[[prunedRead]] machinery as every API read. */
  private[graft] def scanBuckets(spark: SparkSession, path: String,
                                 m: Manifest,
                                 wanted: Option[Set[Int]]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    prunedRead(spark, path, m,
      wanted.getOrElse(m.buckets.keySet), schema)
  }

  /** Bucket-pruned lookup with a DISTRIBUTED probe set: reads only the
    * buckets the probe frame's keys hash to, then left-semi joins the
    * (distinct) probes — AQE broadcasts the probe side when it is
    * small. The driver-side reduction is the distinct BUCKET id list
    * (≤ numBuckets ints — bounded by layout, not by probe count), so
    * the probe frame itself can be arbitrarily large; with a probe set
    * that hashes to every bucket this degrades gracefully to
    * snapshot-scan + semi-join, the best any layout can do. `keysDf`
    * must carry the key column under the manifest's recorded name. */
  def readSnapshotKeys(spark: SparkSession, path: String,
                       keysDf: DataFrame): DataFrame =
    readSnapshotKeysImpl(spark, path, keysDf, preDistinct = false)

  /** [[readSnapshotKeys]] for a probe frame the CALLER guarantees is
    * already distinct on the key AND deterministically re-readable (a
    * checkpointed frame): skips the distinct shuffle and the defensive
    * re-checkpoint — [[MatView.applyDelta]]'s probe set is the grouped
    * delta frame, which satisfies both by construction. */
  private[streaming] def readSnapshotKeysPreDistinct(spark: SparkSession,
      path: String, keysDf: DataFrame): DataFrame =
    readSnapshotKeysImpl(spark, path, keysDf, preDistinct = true)

  private def readSnapshotKeysImpl(spark: SparkSession, path: String,
                                   keysDf: DataFrame,
                                   preDistinct: Boolean): DataFrame = {
    val m = layoutManifest(path)
    require(keysDf.columns.contains(m.key),
      s"readSnapshotKeys: probe frame has no '${m.key}' column " +
        s"(columns: ${keysDf.columns.mkString(", ")})")
    // checkpoint the distinct probe set: it is read TWICE (bucket-id
    // collect below, then the semi-join in the returned plan), and a
    // re-executed non-deterministic probe (a sampled frame) could hash
    // to buckets outside `wanted` — keys that would then silently
    // return nothing. Materializing once makes both reads see the same
    // rows (the applyBatch localCheckpoint precedent). LAZY: the
    // bucket-id collect below is the first action and scans every
    // partition, so it fills the checkpoint in the same job.
    val probes =
      if (preDistinct) keysDf.select(col(m.key).cast(keyTypeOf(m)))
      else keysDf.select(col(m.key).cast(keyTypeOf(m))).distinct()
        .localCheckpoint(false)
    // per-partition distinct sets (≤ numBuckets ints each), no second
    // shuffle — the one job also materializes the probe checkpoint
    val wanted = probes.select(bucketExpr(m.key, m.numBuckets).as("b"))
      .queryExecution.toRdd
      .mapPartitions { it =>
        val s = new java.util.HashSet[Int]()
        it.foreach(r => if (!r.isNullAt(0)) s.add(r.getInt(0)))
        scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      }.collect().toSet
    prunedRead(spark, path, m, wanted,
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
      .join(probes, Seq(m.key), "left_semi")
  }

  private def snapshotOf(spark: SparkSession, path: String,
                         m: Manifest): DataFrame =
    readBuckets(spark, path, m.buckets.toSeq, keepBucket = false,
        conformTo = if (m.hasLayout)
          Some(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
        else None)
      .getOrElse {
        if (!m.hasLayout) throw new IllegalStateException(
          s"snapshot at $path is empty and its legacy manifest records no " +
            "schema; apply a batch to upgrade it")
        val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }

  /** Every parseable manifest file on disk as `(id, name)` pairs,
    * sorted by id then name — the ONE place the `m<id>[.c<nonce>].json`
    * naming convention is listed and parsed (snapshotVersions,
    * manifestAtVersion, vacuum, and snapshotHistory all filter these
    * pairs by their own committed/retention rules; four independent
    * copies of the parse had already crept in once). */
  private def manifestFiles(path: String): Seq[(Long, String)] = {
    val mdir = manifestDir(path)
    val f = fsOf(mdir)
    if (!f.exists(mdir)) Seq.empty
    else f.listStatus(mdir).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filter(n => n.startsWith("m") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("m").takeWhile(_.isDigit).toLongOption
        .map(_ -> n))
      .sorted
  }

  /** Committed batch ids whose snapshots are still readable — i.e.
    * every apply manifest at or below the CURRENT committed id that
    * [[vacuum]] has not yet reclaimed (vacuum collapses history to the
    * current snapshot; retention = your vacuum cadence). Sorted
    * ascending. Uncommitted orphans (a manifest written by a crashed
    * apply that never swapped `_CURRENT`) are excluded. */
  def snapshotVersions(path: String): Seq[Long] = {
    val cur = readManifest(path).getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet"))
    manifestFiles(path).map(_._1).filter(_ <= cur.batchId).distinct.sorted
  }

  /** The store's committed manifest chain as a small DataFrame — the
    * lakehouse DESCRIBE HISTORY verb: one row per committed manifest
    * file at or below the current id (several can share a version: an
    * apply plus compactions of it — identical STATE, different
    * layout), with the layout facts a store operator reads before
    * maintenance: version, kind (apply/compact), buckets mapped, live
    * delta dirs, recorded sortBy / bloomKey preferences, schema DDL.
    * Uncommitted orphans are excluded (the [[snapshotVersions]] rule);
    * driver-side metadata only — one listing plus one small read per
    * manifest, never a data-file touch. SQL:
    * `SELECT * FROM graft_snapshot_history('/data/store')`. */
  def snapshotHistory(spark: SparkSession, path: String): DataFrame = {
    val cur = readManifest(path).getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet"))
    val rows = manifestFiles(path)
      .filter { case (id, _) => id <= cur.batchId }
      .map { case (id, n) =>
        val m = readManifestFile(path, n)
        org.apache.spark.sql.Row(id,
          if (n.contains(".c")) "compact" else "apply",
          m.buckets.size, m.buckets.values.toSet.size,
          m.sortBy.mkString(","), m.bloomKey, m.schemaDdl)
      }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("buckets", IntegerType, nullable = false),
        StructField("delta_dirs", IntegerType, nullable = false),
        StructField("sort_by", StringType, nullable = false),
        StructField("bloom_key", BooleanType, nullable = false),
        StructField("schema", StringType, nullable = false))))
  }

  /** TIME-TRAVEL read: the snapshot as of the LARGEST committed batch
    * id ≤ `batchId` — the lakehouse `VERSION AS OF` primitive, free
    * here because superseded manifests and delta dirs stay on disk
    * until [[vacuum]] (which collapses history to the current
    * snapshot; a failed read after a vacuum names the missing
    * version). Ids above the CURRENT committed one are clamped to it,
    * and a crashed apply's orphan manifest (written, never swapped)
    * is never eligible — uncommitted state stays invisible. When both
    * an apply and a [[compactSnapshot]] manifest exist at the chosen
    * id (identical state by construction), the first in name order
    * whose delta dirs still exist is read. */
  def readSnapshotAt(spark: SparkSession, path: String,
                     batchId: Long): DataFrame =
    snapshotOf(spark, path, manifestAtVersion(path, batchId))

  /** The readable manifest for [[readSnapshotAt]]'s version-selection
    * contract (largest committed id ≤ `batchId`, clamped, orphans and
    * vacuumed-away candidates skipped) — factored out so the changefeed
    * ([[readChanges]]) resolves endpoints through the same rules. */
  private def manifestAtVersion(path: String, batchId: Long): Manifest = {
    val cur = readManifest(path).getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet"))
    val f = fsOf(manifestDir(path))
    val eligible = manifestFiles(path)
      .filter { case (id, _) => id <= batchId && id <= cur.batchId }
    if (eligible.isEmpty) throw new IllegalStateException(
      s"no committed snapshot at or before batch $batchId under $path " +
        "(vacuum reclaims history; only ids in snapshotVersions() remain)")
    val atId = eligible.map(_._1).max
    // several manifests can share the id (an apply + compactions of it —
    // identical state); a vacuum may have reclaimed the DIRS one of them
    // references while the file itself survived (vacuum keeps same-id
    // manifests as possibly in-flight), so pick the first candidate
    // whose referenced delta dirs all still exist — a handful of
    // dir-level existence probes (vacuum removes whole delta dirs)
    eligible.filter(_._1 == atId).map(_._2).sorted
      .iterator.map(n => readManifestFile(path, n))
      .find(_.buckets.values.toSet.forall(d =>
        f.exists(new org.apache.hadoop.fs.Path(path, d))))
      .getOrElse(throw new IllegalStateException(
        s"snapshot at batch $atId under $path is no longer readable — " +
          "vacuum reclaimed its delta dirs"))
  }

  /** CHANGEFEED between two readable versions (the lakehouse CDF read):
    * one row per key whose state differs between `fromVersion` and
    * `toVersion` — `_change_type` ∈ insert / update / delete, payload
    * columns carrying the POST-image (`toVersion`'s values; NULL
    * payloads for a delete). Endpoints resolve through
    * [[readSnapshotAt]]'s version-selection rules (largest committed
    * id ≤ the ask, clamped).
    *
    * The scale property: only buckets whose manifest MAPPING differs
    * between the two versions are read — an untouched mapping means the
    * bucket's files are byte-identical in both versions, so it cannot
    * contribute a change. Changefeed cost is therefore proportional to
    * the buckets the intervening batches touched, never O(table) — a
    * settled multi-terabyte base contributes nothing to the read plan
    * (spec-witnessed via `inputFiles`). A bucket repointed by a
    * COMPACTION between the endpoints reads but diffs empty — layout
    * moves are invisible to the feed, which diffs STATE, not files.
    *
    * `preImages = true` switches to the FOUR-type classification a
    * DOWNSTREAM COMPUTATION needs (the Delta CDF spelling): an update
    * emits TWO rows — `update_preimage` carrying `fromVersion`'s
    * payloads and `update_postimage` carrying `toVersion`'s — and a
    * delete carries the deleted payload values instead of NULLs.
    * Pre-images are what make a consumer SUBTRACTIVE: an incremental
    * aggregate maintains itself by adding post-images and subtracting
    * pre-images ([[MatView]]), which the post-only default cannot
    * express (it says a row changed, not what it changed FROM). */
  def readChanges(spark: SparkSession, path: String,
                  fromVersion: Long, toVersion: Long,
                  preImages: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChanges: fromVersion $fromVersion > toVersion $toVersion")
    val mTo = manifestAtVersion(path, toVersion)
    // fromVersion -1 = EMPTY PREHISTORY: diff against nothing, so the
    // toVersion snapshot streams out as pure inserts — the "initial
    // snapshot then tail" opening a changefeed STREAM needs
    val mFrom =
      if (fromVersion < 0) mTo.copy(buckets = Map.empty)
      else manifestAtVersion(path, fromVersion)
    require(mFrom.hasLayout && mTo.hasLayout,
      s"snapshot at $path has a legacy manifest with no recorded layout; " +
        "apply a batch to upgrade it before changefeed reads")
    require(mFrom.key == mTo.key && mFrom.numBuckets == mTo.numBuckets,
      s"layout contract changed between versions $fromVersion and " +
        s"$toVersion — changefeed undefined across a re-bucketing")
    val changed = (mFrom.buckets.keySet ++ mTo.buckets.keySet)
      .filter(b => mFrom.buckets.get(b) != mTo.buckets.get(b))
    val key = mTo.key
    val toSchema = org.apache.spark.sql.types.StructType.fromDDL(mTo.schemaDdl)
    // `_change_type` is the one name the feed reserves (the Delta CDF
    // spelling, underscored for exactly this reason); a store whose own
    // columns use it would emit duplicate attributes — refuse loudly
    require(!toSchema.fieldNames.contains(ChangeTypeCol),
      s"snapshot at $path has a column named '$ChangeTypeCol', which the " +
        "changefeed reserves for its classification — rename the column")
    val payloads = toSchema.fieldNames.filterNot(_ == key).toSeq
    // BOTH sides conform to the newer endpoint's schema: across an
    // additive evolution the older side reads the new columns as NULLs,
    // so a row whose only change is a still-NULL new column stays
    // `unchanged` and one that gained a value classifies `update`
    def side(m: Manifest, kAs: String, sAs: String) =
      prunedRead(spark, path, m, changed, toSchema).select(col(key).as(kAs),
        struct(payloads.map(col): _*).as(sAs))
    // EMPTY from-state fast path (round 15): the "-1 prehistory" opening
    // read — and a genuinely empty fromVersion snapshot — has nothing to
    // diff against, so every live toVersion row is an insert with its
    // post-image; emitting them directly skips the full-outer join (and
    // its exchanges) that the general diff below would plan against an
    // empty side. Identical rows in both modes (an insert's pre-image
    // form IS the single post-image entry).
    if (mFrom.buckets.isEmpty)
      return prunedRead(spark, path, mTo, changed, toSchema)
        .select(Seq(col(key), lit("insert").as(ChangeTypeCol)) ++
          payloads.map(col): _*)
    val joined = side(mFrom, "__ka", "__sa")
      .join(side(mTo, "__kb", "__sb"), col("__ka") === col("__kb"),
        "full_outer")
    if (!preImages)
      joined.select(
          Seq(coalesce(col("__kb"), col("__ka")).as(key),
            when(col("__ka").isNull, "insert")
              .when(col("__kb").isNull, "delete")
              .when(!(col("__sa") <=> col("__sb")), "update")
              .as(ChangeTypeCol)) ++
          payloads.map(p => col(s"__sb.$p").as(p)): _*)
        .filter(col(ChangeTypeCol).isNotNull)
    else {
      // four-type form: one (type, image) entry per emitted row, an
      // update contributing its pre- AND post-image; unchanged rows
      // explode away through the empty array
      def entry(t: String, img: String) =
        struct(lit(t).as("t"), col(img).as("p"))
      val entries =
        when(col("__ka").isNull, array(entry("insert", "__sb")))
          .when(col("__kb").isNull, array(entry("delete", "__sa")))
          .when(!(col("__sa") <=> col("__sb")),
            array(entry("update_preimage", "__sa"),
              entry("update_postimage", "__sb")))
          .otherwise(array())
      joined.select(coalesce(col("__kb"), col("__ka")).as(key),
          explode(entries).as("__e"))
        .select(Seq(col(key), col("__e.t").as(ChangeTypeCol)) ++
          payloads.map(p => col(s"__e.p.$p").as(p)): _*)
    }
  }

  /** The schema [[readChanges]] emits for the store at `path`: key,
    * `_change_type` STRING, then the payload columns — what a
    * changefeed STREAM declares before any batch runs. */
  def changeSchema(path: String): org.apache.spark.sql.types.StructType = {
    val m = layoutManifest(path)
    val snap = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    org.apache.spark.sql.types.StructType(
      snap(m.key) +:
        org.apache.spark.sql.types.StructField(ChangeTypeCol,
          org.apache.spark.sql.types.StringType) +:
        snap.filterNot(_.name == m.key))
  }

  /** Apply one CDC micro-batch. Returns true when applied, false when
    * skipped (empty batch, or a replayed/out-of-order batchId).
    *
    * `mergeSchema = true` permits ADDITIVE schema evolution: a batch
    * whose payload set is a SUPERSET of the manifest's (same key, same
    * types for every existing column) widens the snapshot schema — the
    * new columns read as typed NULLs from every bucket written before
    * the evolution (no rewrite; dirs conform lazily on read), and the
    * manifest records the widened DDL as existing columns first, new
    * columns after. Dropping or retyping a column is refused either
    * way — those need a rebuild, not an option.
    *
    * `sortBy` orders each bucket's rows by the named columns before
    * writing — the within-bucket clustering that gives parquet
    * row-group min/max stats something to skip on for RANGE predicates
    * (hash buckets can only route equality). A layout preference, not
    * a contract: the manifest records the latest value, earlier dirs
    * keep their old order until [[compactSnapshot]] re-sorts what it
    * merges (see [[Manifest.sortBy]]).
    *
    * `bloomFilterKey = true` writes parquet's native column BLOOM
    * FILTER on the key: a pushed key-equality predicate then rejects
    * row groups inside the routed bucket, so an absent-key point
    * lookup reads footers only — the third skipping layer (bucket
    * routing → sort-column min/max → key bloom), each orthogonal.
    * Same preference-not-contract recording as `sortBy`: compaction
    * carries it forward, pre-bloom dirs merely don't skip. */
  def applyBatch(spark: SparkSession, path: String, key: String,
                 seqCol: String, opCol: String, payloadCols: Seq[String],
                 numBuckets: Int, mergeSchema: Boolean = false,
                 sortBy: Seq[String] = Nil,
                 bloomFilterKey: Boolean = false)
                (changes: DataFrame, batchId: Long): Boolean = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val badSort = sortBy.filterNot((key +: payloadCols).contains)
    require(badSort.isEmpty,
      s"sortBy columns not in the snapshot schema: ${badSort.mkString(", ")}")
    val prev = readManifest(path)
    val ddl = snapshotDdl(changes, key, payloadCols)
    prev.filter(_.hasLayout).foreach { m =>
      // layout-contract check BEFORE any hashing: a different bucket
      // count or key/payload type would route keys away from the
      // buckets their existing versions live in (xxhash64 is
      // type-sensitive) — corrupting instead of merging. A legacy
      // manifest recorded nothing to check against; this apply trusts
      // the caller once and writes the full contract.
      require(m.numBuckets == numBuckets,
        s"snapshot at $path is bucketed numBuckets=${m.numBuckets}; " +
          s"applyBatch called with $numBuckets")
      require(m.key == key,
        s"snapshot at $path is keyed on '${m.key}'; applyBatch called " +
          s"with '$key'")
      if (m.schemaDdl != ddl) {
        require(mergeSchema,
          s"snapshot at $path has schema [${m.schemaDdl}]; this batch " +
            s"would write [$ddl] (additive widening needs " +
            "mergeSchema = true)")
        val old = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        val neu = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        val dropped = old.map(_.name).filterNot(neu.fieldNames.contains)
        require(dropped.isEmpty,
          s"mergeSchema is ADDITIVE only: this batch drops " +
            s"[${dropped.mkString(", ")}] from [${m.schemaDdl}]")
        val retyped = old.flatMap(f => neu.find(_.name == f.name)
          .filter(_.dataType != f.dataType)
          .map(n => s"${f.name}: ${f.dataType.sql} -> ${n.dataType.sql}"))
        require(retyped.isEmpty,
          s"mergeSchema cannot change column types: ${retyped.mkString(", ")}")
      }
    }
    // the EFFECTIVE snapshot schema this apply commits: on a widening
    // apply, existing columns keep their order, new ones append — so
    // later applies see a stable DDL regardless of caller column order
    val effectiveSchema = prev.filter(_.hasLayout) match {
      case Some(m) if m.schemaDdl != ddl =>
        val old = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        val neu = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        org.apache.spark.sql.types.StructType(
          old ++ neu.filterNot(f => old.fieldNames.contains(f.name)))
      case _ => org.apache.spark.sql.types.StructType.fromDDL(ddl)
    }
    val effectiveDdl = effectiveSchema.toDDL
    if (prev.exists(_.batchId >= batchId)) return false // replayed batch
    // xxhash64 skips NULLs, so a NULL key would hash to the seed and land
    // in a real bucket: the change rows fail loudly instead
    val bucketOf = when(col(key).isNull,
        raise_error(lit(s"applyBatch: NULL $key in a change row")))
      .otherwise(bucketExpr(key, numBuckets))
    // one micro-batch — bounded; checkpointed because it is read twice
    // below (touched list, merge) and the foreachBatch source frame is
    // only valid inside this call. LAZY: the touched-bucket collect is
    // the first action and scans every partition, so it materializes
    // the checkpoint as a side effect — an eager checkpoint here paid
    // one extra job per apply for the same bytes
    val batch = changes.withColumn(BucketCol, bucketOf).localCheckpoint(false)
    try {
      // the touched-bucket list is ≤ numBuckets ints — driver-safe.
      // Collected as per-partition distinct sets over the internal rows
      // (≤ numBuckets ints per partition): no shuffle, and the one job
      // doubles as the checkpoint materialization — the previous
      // distinct() paid a shuffle plus an AQE stage job for the same
      // handful of ints
      val touched = batch.select(BucketCol).queryExecution.toRdd
        .mapPartitions { it =>
          val s = new java.util.HashSet[Int]()
          it.foreach(r => s.add(r.getInt(0)))
          scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        }.collect().distinct.sorted
      if (touched.isEmpty) return false // empty batch

      val existing = prev.toSeq.flatMap(m => touched.flatMap(b =>
        m.buckets.get(b).map(d => b -> d)))
      // conform the touched snapshot slice to the effective schema (a
      // widening apply reads pre-evolution buckets with typed NULLs); a
      // LEGACY manifest recorded no schema to conform to — read raw and
      // let a true mismatch fail loudly rather than null-fill it
      val snapTouched = readBuckets(spark, path, existing,
          keepBucket = false,
          conformTo = if (prev.forall(_.hasLayout)) Some(effectiveSchema)
            else None).getOrElse {
        // first batch (or all-new buckets): empty snapshot, batch schema
        batch.select((key +: payloadCols).map(col): _*).limit(0)
      }

      // the merge as ONE exchange (round 15): snapshot and change rows
      // union as winner candidates (Layout.mergeCandidates — any change
      // supersedes the snapshot row, then highest (seq, op, payloads)),
      // hash-cluster ONCE by bucket, and the winner aggregation runs
      // in-place — HashPartitioning(__bucket) satisfies the
      // (__bucket, key) clustering because __bucket is a function of
      // the key, so Catalyst inserts no second exchange, and the write
      // below skips its repartition (prePartitioned). The previous
      // shape paid three exchanges per apply: the change-winner
      // groupBy, the snapshot side of the full-outer join, and the
      // final repartition by bucket.
      val cands = Layout.mergeCandidates(snapTouched, batch.drop(BucketCol),
          key, seqCol, opCol, payloadCols)
        .withColumn(BucketCol, bucketOf)
        .repartition(col(BucketCol))
      val merged = Layout.mergeWinners(
        cands.groupBy(col(BucketCol), col(key)), key, opCol, payloadCols,
        prefixCols = Seq(BucketCol))
      val deltaDir = s"delta/b$batchId"
      writeBucketed(merged, s"$path/$deltaDir", sortBy,
        if (bloomFilterKey) Some(key) else None, prePartitioned = true)

      // a merge can delete a bucket EMPTY: partitionBy writes no dir for
      // it, so such buckets drop out of the manifest entirely. The
      // existence check goes through the SAME FileSystem Spark wrote
      // with — a driver-local check would see nothing on HDFS/object
      // stores and silently drop every touched bucket from the manifest.
      // ONE listing of the delta dir + set membership, NOT one exists()
      // per touched bucket: at production bucket counts that would be
      // thousands of sequential HEAD RPCs against an object store.
      val deltaPath = new org.apache.hadoop.fs.Path(path, deltaDir)
      val dfs = fsOf(deltaPath)
      val onDisk =
        if (!counted(dfs.exists(deltaPath))) Set.empty[Int]
        else counted(dfs.listStatus(deltaPath)).filter(_.isDirectory)
          .flatMap(e => bucketIdOf(e.getPath.getName))
          .toSet
      val written = touched.filter(onDisk).toSet
      val base = prev.map(_.buckets).getOrElse(Map.empty)
      val next = (base -- touched) ++ written.map(_ -> deltaDir).toMap
      writeManifest(path,
        Manifest(batchId, numBuckets, key, effectiveDdl, next, sortBy,
          bloomFilterKey),
        s"m$batchId.json")
      true
    } finally graft.operators.Dedup.releaseFrame(batch)
  }

  /** Advances the committed batchId WITHOUT changing state: a
    * same-content manifest under the new id, swapped in by the normal
    * pointer protocol. What an exactly-once consumer records for a
    * NO-OP input batch ([[MatView.applyDelta]] on an empty diff) — the
    * replay guard then skips the id like any applied batch, instead of
    * the consumer re-reading the no-op's input forever. A no-op on a
    * store that does not exist yet, or a replayed/out-of-order id
    * (returns false). Time travel at the bumped id reads the identical
    * state; vacuum treats the manifest like any apply's. */
  private[graft] def bumpBatchId(path: String, batchId: Long): Boolean =
    readManifest(path) match {
      case Some(m) if m.batchId < batchId =>
        writeManifest(path, m.copy(batchId = batchId), s"m$batchId.json")
        true
      case _ => false
    }

  /** Reader-safe INCREMENTAL compaction for a sink-managed snapshot:
    * merges just enough of the SMALLEST live delta dirs (by live bytes)
    * into one new dir (`delta/c<batchId>-<nonce>` — one task and one
    * file per bucket) to bring the live delta-dir count down to
    * `maxDeltaDirs`, pointing every untouched bucket at its EXISTING
    * dir, and commits through the SAME manifest-swap protocol as
    * [[applyBatch]] — a concurrent reader resolves the pointer to
    * either the fragmented or the compacted layout, never a mix, never
    * a doubled or missing row. A crash at ANY point leaves only orphan
    * files for [[vacuum]] to reclaim (after the next applied batch
    * raises the committed id — the strictly-older guards treat same-id
    * files as possibly in-flight).
    *
    * Merging the smallest dirs is what makes streaming maintenance
    * ([[sink]]'s `compactEvery`) scale: cost tracks FRAGMENTATION (the
    * recent small batches), not table size — a settled multi-terabyte
    * base dir is never rewritten just because new micro-batches landed
    * beside it. `maxDeltaDirs = 1` (the default for a manual call)
    * still consolidates everything into one dir.
    *
    * The compacted manifest keeps the CURRENT `batchId` (compaction
    * changes layout, not state), so the exactly-once replay guard and
    * the streaming engine's id sequence are untouched. Like
    * [[applyBatch]] and [[vacuum]] it belongs to the single-WRITER
    * maintenance protocol — readers need no coordination, but don't
    * race it with a live apply.
    *
    * Driver metadata cost is ONE recursive listing per live delta dir
    * plus one listing of the rewrite output — never a probe per bucket
    * (see [[metaOps]]). No-op (and zero Spark jobs) when the snapshot
    * is empty or already spans ≤ `maxDeltaDirs` delta dirs. Returns
    * [[Layout.CompactStats]] with dirsScanned = live delta dirs before,
    * dirsCompacted = dirs merged away, files/bytes = live data files
    * under the MERGED dirs only (the work actually done).
    *
    * `sortBy = Some(cols)` RE-CLUSTERS as it compacts (the
    * OPTIMIZE…ZORDER verb): the rewrite orders each merged bucket by
    * `cols` and the manifest records the new preference, so later
    * applies and compactions keep it; `Some(Nil)` clears the
    * recording. The default `None` keeps whatever the manifest says.
    * Note a re-cluster only rewrites (and only RECORDS) what this pass
    * merges — a no-op pass records nothing, and untouched dirs keep
    * their old order under the mixed-era contract; call with
    * `maxDeltaDirs = 1` to re-cluster the whole snapshot. */
  def compactSnapshot(spark: SparkSession, path: String,
                      maxDeltaDirs: Int = 1,
                      sortBy: Option[Seq[String]] = None): Layout.CompactStats = {
    require(maxDeltaDirs >= 1, s"maxDeltaDirs must be >= 1, got $maxDeltaDirs")
    val m0 = readManifest(path).getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet"))
    val m = sortBy match {
      case None => m0
      case Some(cols) =>
        require(m0.hasLayout,
          s"snapshot at $path has a legacy manifest with no recorded " +
            "layout; apply a batch to upgrade it before re-clustering")
        val names = org.apache.spark.sql.types.StructType
          .fromDDL(m0.schemaDdl).fieldNames
        val bad = cols.filterNot(names.contains)
        require(bad.isEmpty,
          s"sortBy columns not in the snapshot schema: ${bad.mkString(", ")}")
        m0.copy(sortBy = cols)
    }
    val liveDirs = m.buckets.values.toSet
    if (m.buckets.isEmpty || liveDirs.size <= maxDeltaDirs)
      return Layout.CompactStats(liveDirs.size, 0, 0L, 0L, 0L)
    val f = fsOf(new org.apache.hadoop.fs.Path(path))
    val liveByDir: Map[String, Set[Int]] =
      m.buckets.toSeq.groupMap(_._2)(_._1).map { case (d, bs) => d -> bs.toSet }
    // (files, bytes) of dir `d` counting ONLY its live buckets `bs`: an
    // old delta dir may still hold bucket dirs that later batches
    // repointed elsewhere — those are vacuum's business, not this
    // rewrite's. One recursive listing per dir, filtered in memory.
    def statLive(d: String, bs: Set[Int]): (Long, Long) = {
      var n = 0L; var by = 0L
      val it = counted(f.listFiles(new org.apache.hadoop.fs.Path(path, d), true))
      while (it.hasNext) {
        val e = it.next()
        val nm = e.getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".") &&
            bucketIdOf(e.getPath.getParent.getName).exists(bs)) {
          n += 1; by += e.getLen
        }
      }
      (n, by)
    }
    val dirStats = liveByDir.map { case (d, bs) => d -> statLive(d, bs) }
    // merge the SMALLEST k dirs (live bytes, dir-name tiebreak for
    // determinism) — merging k into 1 lands exactly on maxDeltaDirs
    val k = liveDirs.size - maxDeltaDirs + 1
    val merge = dirStats.toSeq.sortBy { case (d, (_, by)) => (by, d) }
      .take(k).map(_._1).toSet
    val victims = m.buckets.filter { case (_, d) => merge(d) }.toSeq.sortBy(_._1)
    val mergedStats = dirStats.view.filterKeys(merge).values.toSeq
    val (filesBefore, bytes) = (mergedStats.map(_._1).sum, mergedStats.map(_._2).sum)
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val deltaDir = s"delta/c${m.batchId}-$nonce"
    // grouped read (one relation per merged delta dir — see readBuckets)
    // KEEPING the __bucket path-partition column; writeBucketed is the
    // applyBatch write shape — one task and one file per bucket, rows
    // re-sorted to the manifest's recorded sortBy (so compaction also
    // UPGRADES dirs written before the sort, or under an older one).
    // Conforming to the manifest schema lets mixed-era dirs (pre/post
    // an additive evolution) merge: the rewrite BACKFILLS typed NULLs,
    // upgrading the merged dirs to the current schema
    writeBucketed(
      readBuckets(spark, path, victims, keepBucket = true,
        conformTo = if (m.hasLayout)
          Some(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl))
        else None).get,
      s"$path/$deltaDir", m.sortBy,
      if (m.bloomKey) Some(m.key) else None)
    // every merged bucket holds ≥1 row (applyBatch drops empty ones), so
    // every victim bucket dir must exist post-write; a missing one means
    // the rewrite LOST data — fail loudly, leaving the pointer untouched.
    // One listing of the rewrite dir, not one exists() per bucket.
    val deltaPath = new org.apache.hadoop.fs.Path(path, deltaDir)
    val present = counted(f.listStatus(deltaPath)).filter(_.isDirectory)
      .flatMap(e => bucketIdOf(e.getPath.getName))
      .toSet
    victims.foreach { case (b, _) => require(present(b),
      s"compactSnapshot: bucket $b missing from the rewrite at $deltaPath; " +
        "manifest not swapped") }
    writeManifest(path,
      m.copy(buckets = m.buckets.map { case (b, d) =>
        b -> (if (merge(d)) deltaDir else d) }),
      s"m${m.batchId}.c$nonce.json")
    val (filesAfter, _) = statLive(deltaDir, victims.map(_._1).toSet)
    Layout.CompactStats(liveDirs.size, merge.size, filesBefore,
      filesAfter, bytes)
  }

  /** Reclaims storage the retained snapshots no longer reference: delta
    * directories whose buckets all point elsewhere, and manifest files
    * below the retention window. The `_CURRENT` swap is what makes
    * superseded deltas safe to keep for in-flight readers — and this is
    * the cleanup that eventually drops them. Returns
    * `(deltaDirsRemoved, manifestsRemoved)`.
    *
    * `retainVersions` is the [[readSnapshotAt]] time-travel retention:
    * the newest N committed versions stay readable, everything older
    * reclaims. The default 1 keeps only the CURRENT snapshot (maximum
    * reclamation — history collapses). For a retained id other than the
    * current one, EVERY manifest file of that id keeps its dirs; for
    * the current id only the `_CURRENT`-named manifest does (a
    * superseded same-id apply manifest left behind by a compaction
    * contributes nothing — its b-dirs reclaim now, and a later
    * [[readSnapshotAt]] of that id resolves through the compaction
    * manifest's surviving dirs).
    *
    * Safety: only ever deletes under `path/delta` and `path/_manifest`;
    * the current manifest and every delta dir it references survive by
    * construction, and only delta dirs AND manifest files whose batchId
    * is ≤ (deltas) / < (manifests) the CURRENT committed id are
    * candidates — an in-flight [[applyBatch]] always writes a HIGHER id
    * (batchIds are monotone; replays return before writing), so vacuum
    * racing a live writer can delete neither the delta the writer is
    * about to commit nor the manifest it has written but not yet
    * swapped `_CURRENT` to (same-id compaction artifacts are likewise
    * never candidates). Run it when no READER can still
    * hold a pre-swap manifest (readers resolve `_CURRENT` at open; a
    * grace window of one query lifetime suffices). Idempotent — a
    * second call finds nothing. */
  def vacuum(path: String, retainVersions: Int = 1): (Int, Int) = {
    require(retainVersions >= 1,
      s"retainVersions must be >= 1, got $retainVersions")
    val (curSeq, currentName) = currentPointer(path).getOrElse(
      throw new IllegalStateException(s"no snapshot at $path yet"))
    val m = readManifestFile(path, currentName)
    // retained ids: the newest retainVersions committed ids on disk
    val idsOnDisk = manifestFiles(path).filter(_._1 <= m.batchId)
    val retained = idsOnDisk.map(_._1).distinct.sorted.takeRight(retainVersions).toSet
    // live dirs: the current manifest's, plus — for OLDER retained ids —
    // every manifest file of that id (an old id's apply and compaction
    // manifests both stay readable inside the window)
    val live = m.buckets.values.toSet ++
      idsOnDisk.filter { case (id, n) =>
        id != m.batchId && retained.contains(id) }
        .flatMap { case (_, n) => readManifestFile(path, n).buckets.values }
    val deltaRoot = new org.apache.hadoop.fs.Path(path, "delta")
    val f = fsOf(deltaRoot)
    var dirs = 0
    if (f.exists(deltaRoot)) f.listStatus(deltaRoot).foreach { e =>
      val nm = e.getPath.getName
      // b<id> (applies) reclaim at id ≤ current — an in-flight apply is
      // always a HIGHER id. c<id>-<nonce> ([[compactSnapshot]]) reclaim
      // at id < current only — an in-flight compaction writes the
      // CURRENT id, so a same-id non-live compact dir might be about to
      // be committed (a superseded same-id one lingers until the next
      // applied batch raises the id; bounded, documented).
      val reclaimable =
        if (nm.startsWith("b")) nm.drop(1).toLongOption.exists(_ <= m.batchId)
        else if (nm.startsWith("c"))
          nm.drop(1).takeWhile(_.isDigit).toLongOption.exists(_ < m.batchId)
        else false
      if (e.isDirectory && reclaimable && !live.contains(s"delta/$nm")) {
        require(f.delete(e.getPath, true),
          s"vacuum: delta delete failed: ${e.getPath}")
        dirs += 1
      }
    }
    var manifests = 0
    val mdir = manifestDir(path)
    // the manifest guard mirrors the delta guard above: delete only ids
    // STRICTLY below the current committed one. An in-flight applyBatch
    // may already have written m<id>.json for a higher id without having
    // swapped _CURRENT yet — deleting it would leave the pointer dangling
    // the instant the writer swaps. Unparseable names are left alone.
    if (f.exists(mdir)) f.listStatus(mdir).foreach { e =>
      val nm = e.getPath.getName
      // leading digits cover both m<id>.json and m<id>.c<nonce>.json;
      // a same-id compaction manifest might be in-flight (see above),
      // and ids inside the retention window stay time-travel readable
      val id = if (nm.startsWith("m") && nm.endsWith(".json"))
        nm.stripPrefix("m").takeWhile(_.isDigit).toLongOption else None
      if (e.isFile && id.exists(i => i < m.batchId && !retained.contains(i))) {
        require(f.delete(e.getPath, false),
          s"vacuum: manifest delete failed: ${e.getPath}")
        manifests += 1
      }
    }
    // pointer hygiene: versioned pointer files accrete one per swap —
    // keep the newest TWO so a reader that listed just before a swap can
    // still OPEN the pointer file it picked (everything older is
    // unreachable). That grace covers the pointer-file resolution step
    // only: whether the manifest/delta files the runner-up NAMES are
    // still readable is governed by `retainVersions` and the documented
    // one-query-lifetime grace window (run vacuum only when no reader is
    // mid-query), same as every other artifact here. Stray `.ptr.tmp.*`
    // from crashed swaps sweep only past [[TmpPointerGraceMs]] — a young
    // tmp may belong to an in-flight [[writeManifest]] that is about to
    // rename it in, and deleting it would abort that writer's commit.
    // The shadowed legacy `_CURRENT` drops once v-pointers exist.
    if (f.exists(mdir)) {
      val seqs = f.listStatus(mdir).filter(_.isFile)
        .flatMap(e => ptrSeq(e.getPath.getName)).sorted
      if (seqs.nonEmpty) {
        val keep = seqs.takeRight(2).toSet
        val now = System.currentTimeMillis()
        f.listStatus(mdir).filter(_.isFile).foreach { e =>
          val nm = e.getPath.getName
          val stale = ptrSeq(nm).exists(!keep.contains(_)) ||
            (nm.startsWith(".ptr.tmp.") && curSeq >= 0 &&
              now - e.getModificationTime > TmpPointerGraceMs)
          if (stale) require(f.delete(e.getPath, false),
            s"vacuum: pointer cleanup failed: ${e.getPath}")
        }
        val legacy = legacyPtr(path)
        if (f.exists(legacy)) f.delete(legacy, false) // best-effort shadow drop
      }
    }
    (dirs, manifests)
  }

  /** foreachBatch adapter: `changes.writeStream.foreachBatch(
    * UpsertSink.sink(spark, path, …)).outputMode("append")`.
    *
    * `compactEvery = n` folds maintenance into the stream: after the
    * batches whose DURABLE `batchId` satisfies `(id + 1) % n == 0` the
    * snapshot compacts through the reader-safe [[compactSnapshot]]
    * swap — without it a long-lived stream accretes one delta dir per
    * batch and the scan side degrades to dir-per-batch listing (the
    * small-files death, §Layout.compact). Deriving the cadence from the
    * engine's batchId (not an in-memory counter) keeps the rhythm
    * across RESTARTS — a stream restarting more often than every n
    * batches would otherwise never compact, silently accreting a delta
    * dir per batch — and replays can't double-fire because a replayed
    * id never applies. A skipped cadence point (crash between apply
    * and compact, or an empty batch on the boundary) is caught up at
    * the next one.
    *
    * `maxDeltaDirs` bounds the stream's live delta-dir fan-out and
    * keeps each maintenance pass INCREMENTAL: only the smallest dirs
    * merge (cost tracks fragmentation, not table size — see
    * [[compactSnapshot]]); the default 4 keeps the scan a 4-way union
    * while never rewriting the settled base per pass. `vacuumAfterCompact`
    * then reclaims superseded dirs and manifests; enable it only when
    * no reader still holds a pre-swap manifest (one query lifetime of
    * grace) AND [[readSnapshotAt]] history before the compaction point
    * is expendable — vacuum collapses history to the current snapshot. */
  def sink(spark: SparkSession, path: String, key: String, seqCol: String,
           opCol: String, payloadCols: Seq[String], numBuckets: Int,
           compactEvery: Int = 0, maxDeltaDirs: Int = 4,
           vacuumAfterCompact: Boolean = false,
           mergeSchema: Boolean = false,
           sortBy: Seq[String] = Nil,
           bloomFilterKey: Boolean = false)
    : (DataFrame, Long) => Unit = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    require(maxDeltaDirs >= 1, s"maxDeltaDirs must be >= 1, got $maxDeltaDirs")
    require(compactEvery > 0 || !vacuumAfterCompact,
      "vacuumAfterCompact requires compactEvery > 0")
    (df, id) => {
      if (applyBatch(spark, path, key, seqCol, opCol, payloadCols,
          numBuckets, mergeSchema, sortBy, bloomFilterKey)(df, id)) {
        if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
          compactSnapshot(spark, path, maxDeltaDirs)
          if (vacuumAfterCompact) vacuum(path)
        }
      }
      ()
    }
  }
}
