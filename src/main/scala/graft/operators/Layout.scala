package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-layout operators: multi-dimensional clustering for
  * data-skipping (the Z-ORDER primitive of lakehouse table formats).
  *
  * Sorting by a Z-value (bit-interleaved bucket ranks of several
  * columns) makes rows close in EVERY dimension land in the same files,
  * so min/max file statistics prune scans for predicates on ANY of the
  * interleaved columns — where a lexicographic sort only serves its
  * leading column. This is the standard layout step before writing a
  * large analytical table that is filtered on several independent
  * columns (date × domain × quality score, in the corpus case).
  */
object Layout {

  /** Adds a Z-value column interleaving `cols` (numeric) at `bits` bits
    * per dimension. Per column, values min/max-normalize into
    * `[0, 2^bits)` integer buckets (one tiny min/max aggregate — a
    * single driver row — is the only extra pass; everything else is a
    * scan-level codegen'd expression). Nulls and degenerate
    * constant columns bucket to 0. Bit i of bucket j lands at position
    * `i·k + j` of the Z-value, so `bits · k` must fit a long (≤ 63).
    */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int = 8,
                 outCol: String = "z"): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(bits >= 1, s"bits must be >= 1, got $bits")
    require(bits * cols.size <= 63,
      s"bits * dimensions must be <= 63, got ${bits * cols.size}")
    require(!df.columns.contains(outCol), s"output column '$outCol' already exists")

    // ONE bounded aggregate: 2·k doubles to the driver. NaNs are
    // excluded from the bounds (Spark orders NaN GREATEST, so one NaN
    // row would make max()=NaN, the normalizer NaN for every row, and
    // the whole dimension silently degenerate to the top bucket) —
    // NaN rows themselves bucket to 0 with the nulls below.
    def clean(c: String) = {
      val x = col(c).cast("double")
      when(!isnan(x), x)
    }
    val aggs = cols.flatMap(c => Seq(min(clean(c)), max(clean(c))))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    val hi = (1L << bits) - 1
    val k = cols.size
    val buckets = cols.zipWithIndex.map { case (c, j) =>
      // an empty frame (or all-null column) aggregates to null: treat as
      // degenerate so every (non-existent) row buckets to 0
      val lo = if (mm.isNullAt(2 * j)) 0.0 else mm.getDouble(2 * j)
      val up = if (mm.isNullAt(2 * j + 1)) 0.0 else mm.getDouble(2 * j + 1)
      val x = col(c).cast("double")
      if (up == lo) lit(0L) // constant column: every row bucket 0
      else
        // the null/NaN gate must come FIRST: least() SKIPS null operands
        // (it returns the smallest non-null) and orders NaN greatest, so
        // a trailing coalesce would land null rows in the top bucket and
        // a NaN value would ride through floor() into the interleave
        when(x.isNull || isnan(x), lit(0L))
          .otherwise(least(floor((x - lit(lo)) / lit(up - lo) * hi), lit(hi))
            .cast("long"))
    }
    val z = (for (i <- 0 until bits; j <- 0 until k) yield
      shiftleft(shiftright(buckets(j), i).bitwiseAND(lit(1L)), i * k + j))
      .reduce(_ bitwiseOR _)
    df.withColumn(outCol, z)
  }

  /** Z-order the frame: range-partition and sort by the Z-value of
    * `cols` so each output partition (→ file, when written) covers a
    * compact multi-dimensional cell. `numPartitions` ≤ 0 keeps the
    * session default. The Z column is dropped from the result — it only
    * drives the layout.
    */
  def zorderBy(df: DataFrame, cols: Seq[String], bits: Int = 8,
               numPartitions: Int = 0): DataFrame = {
    val zc = "__graft_z"
    val withZ = withZValue(df, cols, bits, zc)
    val parted =
      if (numPartitions > 0) withZ.repartitionByRange(numPartitions, col(zc))
      else withZ.repartitionByRange(col(zc))
    parted.sortWithinPartitions(col(zc)).drop(zc)
  }

  /** Result of one [[compact]] pass. */
  final case class CompactStats(dirsScanned: Int, dirsCompacted: Int,
                                filesBefore: Long, filesAfter: Long,
                                bytes: Long)

  /** Small-file compaction for a parquet directory tree (optionally
    * Hive-partitioned) — the operational primitive every long-lived
    * 100 TB table needs: streaming sinks, CDC appliers, and per-batch
    * writers leave thousands of KB-sized files per partition, and scan
    * cost degrades to task-per-file long before data size matters.
    *
    * Mechanics: walk the tree for LEAF directories holding data files
    * (`_`/`.`-prefixed sidecars like `_graft_centroids` or `_SUCCESS`
    * are skipped, per the Spark convention); a directory whose files
    * already average ≥ `targetBytes / 2` or number ≤ 1 is left alone;
    * each remaining directory compacts INDEPENDENTLY — read that
    * directory only, `coalesce(ceil(dirBytes / targetBytes))` (a narrow
    * repartition-down: no shuffle, no sort), write to a staging subdir,
    * then swap (delete originals, move staged files in). Content is
    * preserved as a multiset — row order inside files may change, and
    * partition values stay encoded in the directory path, so readers of
    * the partitioned table see identical data (`q_compact` hash-proves
    * this against the uncompacted source).
    *
    * Scale shape: NO global shuffle and no whole-table job — compaction
    * cost is proportional to the bytes in the directories that actually
    * need it, and directories compact in parallel (`parallelism`
    * concurrent per-directory jobs; each job's task count is the file
    * count it reads).
    *
    * A manifest-managed [[graft.streaming.UpsertSink]] snapshot (a
    * `_CURRENT` pointer at the root) routes to
    * [[graft.streaming.UpsertSink.compactSnapshot]] instead: its
    * bucket deltas compact into a NEW delta dir committed by the
    * sink's atomic manifest swap, so concurrent readers never see the
    * in-place path's transient doubled-rows window at all. On that
    * rerouted path `targetBytes`/`parallelism` DO NOT APPLY (the sink
    * writes one file per bucket in one grouped job) and the returned
    * [[CompactStats]] counts DELTA dirs, not leaf dirs — the reroute
    * REFUSES non-default tuning rather than silently ignoring it; call
    * `UpsertSink.compactSnapshot` directly to tune a sink store.
    *
    * Swap protocols and what concurrent readers can observe. A
    * NON-ROOT leaf holding only data files (the shape of every Hive
    * partition directory) swaps by WHOLE-DIRECTORY RENAME:
    *   1. the compacted replacement writes to a hidden sibling
    *      (`.graft_dirswap_stage_<nonce>`, invisible) — a crash here
    *      just discards it;
    *   2. a `.graft_dirswap_commit_<nonce>` marker at the PARENT names
    *      the leaf (COMMIT POINT: recovery completes forward);
    *   3. hidden sidecars (`_SUCCESS`, `_graft_*` indexes) move into
    *      the staged dir — invisible to readers by the Spark hidden
    *      convention;
    *   4. `rename(leaf → .graft_dirswap_old_<nonce>)` then
    *      `rename(stage → leaf)` — two ATOMIC metadata ops;
    *   5. old dir + marker delete.
    * A reader therefore NEVER sees doubled rows (old and new files are
    * never visible together — the round-13 sink swap lesson applied to
    * plain trees). The race left is the two-rename window in step 4:
    * an in-flight reader holding pre-swap file paths fails LOUDLY with
    * FileNotFound (exactly as it did under any delete-based swap), but
    * a reader whose PLAN-TIME listing lands inside the window simply
    * does not see that leaf — a SILENT missing-partition result, two
    * metadata ops wide. That is a strictly smaller exposure than the
    * in-place protocol's O(files)-wide silent doubled-rows window, but
    * it is not zero: run compaction in a maintenance window when
    * readers need exactly-correct counts mid-swap, or lay the table
    * down as an [[graft.streaming.UpsertSink]] snapshot (whose pointer
    * swap has NO reader-visible window at all). Directory renames are
    * atomic on HDFS and local filesystems; on a rename-as-copy object
    * store use the sink layout as well.
    *
    * The ROOT-as-leaf and mixed files+visible-subdirs layouts cannot
    * rename their directory (the path is the caller's handle / carries
    * live children), so they keep the legacy IN-PLACE swap: stage under
    * `.graft_compact_tmp`, commit a `.graft_compact_swap` marker
    * recording the delete set + nonce, rename staged files in, delete
    * originals — re-runnable, never loses committed rows, but readers
    * can transiently see that one directory's rows doubled mid-swap
    * (run those layouts in a maintenance window).
    *
    * Every delete/rename return value is checked (Hadoop FileSystem
    * signals failure by returning false, not throwing). A re-run (or
    * the next [[compact]] call) finds either protocol's marker and
    * idempotently completes it — renames and deletes skip what already
    * happened.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = Layout.DefaultTargetBytes,
              parallelism: Int = Layout.DefaultParallelism): CompactStats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    require(fs.exists(root), s"no directory at $path")

    // a sink-managed snapshot compacts through its manifest swap — the
    // in-place rename swap below would expose readers to transiently
    // doubled rows, and its renamed files would dodge the manifest.
    // Detection covers both pointer generations: the versioned-pointer
    // `_manifest` dir and the legacy single-file `_CURRENT`.
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "_manifest")) ||
        fs.exists(new org.apache.hadoop.fs.Path(root, "_CURRENT"))) {
      // fail loudly rather than silently ignore tuning that does not
      // apply to the sink path (one file per bucket; stats count delta
      // dirs) — a caller that dialed targetBytes/parallelism is asking
      // for an operation this tree cannot perform. The guard compares
      // against the SAME constants the signature defaults use, so the
      // two can never drift apart.
      require(targetBytes == DefaultTargetBytes &&
          parallelism == DefaultParallelism,
        s"$path is a sink-managed snapshot: compaction reroutes to " +
          "UpsertSink.compactSnapshot, where targetBytes/parallelism do " +
          "not apply — call it directly (or use default arguments here)")
      return graft.streaming.UpsertSink.compactSnapshot(spark, path)
    }

    // ONE walk, ONE listStatus per directory: recovery (both swap
    // protocols) runs off the same listing the leaf scan uses — on an
    // object-store tree with thousands of partition dirs, separate
    // recovery and listing passes would triple the driver LIST RPCs
    // before any work. Recovery acts only on marker/stray hits (rare);
    // when it DID mutate the dir, that dir re-lists once. A dir-swap
    // recovered at the parent restores the child leaf BEFORE the walk
    // descends into it. leaf = (dir, data files, has VISIBLE subdirs) —
    // the flag picks the swap protocol: a pure non-root leaf renames
    // wholesale, a mixed or root leaf must swap in place (its path
    // carries children / is the caller's handle).
    val qualifiedRoot = fs.makeQualified(root)
    val leaves = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[
        (org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus], Boolean)]
      def walk(dir: org.apache.hadoop.fs.Path): Unit = {
        var entries = fs.listStatus(dir)
        val acted = recoverDirSwaps(fs, dir, entries) |
          recoverSwap(fs, dir, entries)
        if (acted) entries = fs.listStatus(dir)
        val visible = entries.filterNot(e => hiddenName(e.getPath.getName))
        val files = visible.filter(_.isFile)
        val dirs = visible.filter(_.isDirectory)
        if (files.nonEmpty) acc += ((dir, files, dirs.nonEmpty))
        dirs.foreach(e => walk(e.getPath))
      }
      walk(root)
      acc.toSeq
    }
    val todo = leaves.filter { case (_, files, _) =>
      files.length > 1 && files.map(_.getLen).sum / files.length < targetBytes / 2
    }

    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val futures = todo.map { case (dir, files, hasVisibleSubdirs) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val bytes = files.map(_.getLen).sum
            val k = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
            val dfs = dir.getFileSystem(hconf)
            // protocol pick (see the scaladoc): a pure non-root leaf
            // swaps by whole-directory rename — readers never see
            // doubled rows; root/mixed leaves keep the in-place swap
            val staged =
              if (!hasVisibleSubdirs && dfs.makeQualified(dir) != qualifiedRoot)
                dirSwap(spark, dfs, dir, files, k)
              else inPlaceSwap(spark, dfs, dir, files, k)
            results.add((files.length.toLong, staged, bytes))
          }
        })
      }
      try futures.foreach(_.get()) // propagate the first failure
      catch {
        case t: Throwable =>
          // drop the QUEUED directories; in-flight swaps must finish
          // (interrupting one mid-rename would strand a half-applied
          // swap behind a live marker for the next run to recover)
          futures.foreach(_.cancel(false))
          throw t
      }
    } finally {
      pool.shutdown()
      // never return while background tasks could still mutate the tree
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    }

    import scala.jdk.CollectionConverters._
    val done = results.asScala.toSeq
    CompactStats(
      dirsScanned = leaves.length,
      dirsCompacted = done.length,
      filesBefore = done.map(_._1).sum,
      filesAfter = done.map(_._2).sum,
      bytes = done.map(_._3).sum)
  }

  /** [[compact]]'s default tuning — referenced by BOTH the signature
    * defaults and the sink-reroute guard, so "caller did not tune"
    * stays one definition. */
  val DefaultTargetBytes: Long = 128L << 20
  val DefaultParallelism: Int = 4

  private val CompactStaging = ".graft_compact_tmp"
  private val CompactMarker = ".graft_compact_swap"
  private val DirSwapStage = ".graft_dirswap_stage_"
  private val DirSwapOld = ".graft_dirswap_old_"
  private val DirSwapMarker = ".graft_dirswap_commit_"
  /** Disambiguates sibling swaps landing on the same nanosecond. */
  private val dirSwapSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def hiddenName(n: String): Boolean =
    n.startsWith("_") || n.startsWith(".")

  /** Legacy IN-PLACE swap for leaves that cannot rename their directory
    * (the root itself, or a dir with visible partition children): stage
    * under the leaf, commit a marker recording the delete set, rename
    * staged files in, delete originals. Readers can transiently see the
    * leaf's rows doubled between the rename-in and the deletes — the
    * documented maintenance-window contract. Returns the staged file
    * count. */
  private def inPlaceSwap(spark: org.apache.spark.sql.SparkSession,
                          dfs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path,
                          files: Array[org.apache.hadoop.fs.FileStatus],
                          k: Int): Long = {
    val staging = new org.apache.hadoop.fs.Path(dir, CompactStaging)
    // read the EXPLICIT file list, not the directory: a dir read
    // recurses into partition subdirectories, which would absorb
    // a child partition's rows into the parent and then duplicate
    // them when only the parent's files are swapped out
    // mergeSchema: a leaf dir may mix files written before and
    // after a schema evolution; inferring from one footer would
    // silently drop the newer columns from the rewrite
    spark.read.option("mergeSchema", "true")
      .parquet(files.map(_.getPath.toString): _*)
      .coalesce(k) // narrow: merge partitions, no shuffle
      .write.mode("overwrite").parquet(staging.toString)
    val staged = dfs.listStatus(staging)
      .filter(e => e.isFile && !hiddenName(e.getPath.getName))
    // COMMIT POINT: the marker records the delete set + nonce;
    // from here the swap completes (here or on a re-run). It
    // writes to a temp name and RENAMES in — rename is the
    // atomic primitive, so a crash mid-write leaves a hidden
    // temp file recovery ignores, never a truncated marker
    // whose partial delete list would strand originals
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val marker = new org.apache.hadoop.fs.Path(dir, CompactMarker)
    val markerTmp = new org.apache.hadoop.fs.Path(dir,
      CompactMarker + s".$nonce.tmp")
    val out = dfs.create(markerTmp, true)
    try out.write(
      (nonce +: files.map(_.getPath.getName).toSeq).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(dfs.rename(markerTmp, marker),
      s"compact: marker commit failed: $markerTmp -> $marker")
    // staged IN first (nonce names cannot collide), originals out
    staged.foreach { e =>
      val dest = new org.apache.hadoop.fs.Path(dir,
        s"graft-compact-$nonce-${e.getPath.getName}")
      require(dfs.rename(e.getPath, dest),
        s"compact: rename failed: ${e.getPath} -> $dest")
    }
    files.foreach { f =>
      require(dfs.delete(f.getPath, false) || !dfs.exists(f.getPath),
        s"compact: delete failed: ${f.getPath}")
    }
    require(dfs.delete(marker, false),
      s"compact: marker cleanup failed: $marker")
    require(!dfs.exists(staging) || dfs.delete(staging, true),
      s"compact: staging cleanup failed: $staging")
    staged.length.toLong
  }

  /** Whole-directory swap for a pure non-root leaf: the compacted
    * replacement stages as a hidden SIBLING, a parent-level marker
    * commits, hidden sidecars move across, and two atomic renames flip
    * the leaf — concurrent readers see the old file set or the new one,
    * NEVER both (no doubled-rows window; see the [[compact]] scaladoc
    * for the residual two-rename absence window). Returns the staged
    * file count. */
  private def dirSwap(spark: org.apache.spark.sql.SparkSession,
                      dfs: org.apache.hadoop.fs.FileSystem,
                      dir: org.apache.hadoop.fs.Path,
                      files: Array[org.apache.hadoop.fs.FileStatus],
                      k: Int): Long = {
    val parent = dir.getParent
    val nonce = java.lang.Long.toHexString(System.nanoTime()) +
      "x" + dirSwapSeq.incrementAndGet()
    val staging = new org.apache.hadoop.fs.Path(parent, DirSwapStage + nonce)
    // explicit file list + mergeSchema, same reasons as the in-place path
    spark.read.option("mergeSchema", "true")
      .parquet(files.map(_.getPath.toString): _*)
      .coalesce(k) // narrow: merge partitions, no shuffle
      .write.mode("overwrite").parquet(staging.toString)
    val stagedCount = dfs.listStatus(staging)
      .count(e => e.isFile && !hiddenName(e.getPath.getName)).toLong
    // COMMIT POINT: the marker (tmp write + atomic rename, as ever)
    // names the leaf; recovery completes FORWARD from here
    val marker = new org.apache.hadoop.fs.Path(parent, DirSwapMarker + nonce)
    val markerTmp = new org.apache.hadoop.fs.Path(parent,
      DirSwapMarker + nonce + ".tmp")
    val out = dfs.create(markerTmp, true)
    try out.write(dir.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(dfs.rename(markerTmp, marker),
      s"compact: dirswap marker commit failed: $markerTmp -> $marker")
    moveHiddenEntries(dfs, dir, staging)
    val oldDir = new org.apache.hadoop.fs.Path(parent, DirSwapOld + nonce)
    require(dfs.rename(dir, oldDir),
      s"compact: dirswap rename-out failed: $dir -> $oldDir")
    require(dfs.rename(staging, dir),
      s"compact: dirswap rename-in failed: $staging -> $dir")
    require(dfs.delete(oldDir, true),
      s"compact: dirswap old cleanup failed: $oldDir")
    require(dfs.delete(marker, false),
      s"compact: dirswap marker cleanup failed: $marker")
    stagedCount
  }

  /** Moves the leaf's hidden entries (`_SUCCESS`, `_graft_*` sidecar
    * files AND dirs) into the staged replacement — invisible to readers
    * by the Spark hidden-name convention, so safe at any point after
    * the commit marker. A name the staged dir already holds (its own
    * `_SUCCESS`) keeps the staged copy. Idempotent — recovery re-runs
    * it on whatever is still in place. */
  private def moveHiddenEntries(fs: org.apache.hadoop.fs.FileSystem,
                                from: org.apache.hadoop.fs.Path,
                                to: org.apache.hadoop.fs.Path): Unit =
    fs.listStatus(from).filter(e => hiddenName(e.getPath.getName)).foreach { e =>
      val dst = new org.apache.hadoop.fs.Path(to, e.getPath.getName)
      if (fs.exists(dst))
        require(fs.delete(e.getPath, true),
          s"compact: superseded sidecar drop failed: ${e.getPath}")
      else require(fs.rename(e.getPath, dst),
        s"compact: sidecar move failed: ${e.getPath} -> $dst")
    }

  /** Finishes (marker present — committed; complete forward) or
    * discards (stage/old dirs without a marker — nothing visible ever
    * changed, or cleanup raced a crash) any [[dirSwap]] a previous run
    * left in `dir` (as the PARENT of the swapped leaves), working off
    * the caller's `entries` listing (no extra LIST RPC on the
    * nothing-to-recover fast path). Returns whether anything was
    * mutated. Idempotent. */
  private def recoverDirSwaps(fs: org.apache.hadoop.fs.FileSystem,
                              dir: org.apache.hadoop.fs.Path,
                              entries: Array[org.apache.hadoop.fs.FileStatus]): Boolean = {
    var acted = false
    // crash mid-marker-write leaves only the tmp: the rename never
    // happened, nothing committed — discard
    entries.filter(e => e.isFile &&
        e.getPath.getName.startsWith(DirSwapMarker) &&
        e.getPath.getName.endsWith(".tmp"))
      .foreach { e =>
        require(fs.delete(e.getPath, false),
          s"compact: stale dirswap marker-temp cleanup failed: ${e.getPath}")
        acted = true
      }
    val markers = entries.filter(e => e.isFile &&
      e.getPath.getName.startsWith(DirSwapMarker) &&
      !e.getPath.getName.endsWith(".tmp"))
    markers.foreach { mk =>
      val nonce = mk.getPath.getName.stripPrefix(DirSwapMarker)
      val leafName = {
        val in = fs.open(mk.getPath)
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      }
      require(leafName.nonEmpty && !leafName.contains("/"),
        s"compact: malformed dirswap marker ${mk.getPath}")
      val leaf = new org.apache.hadoop.fs.Path(dir, leafName)
      val stage = new org.apache.hadoop.fs.Path(dir, DirSwapStage + nonce)
      val old = new org.apache.hadoop.fs.Path(dir, DirSwapOld + nonce)
      if (fs.exists(stage)) {
        // stage still present → the rename-in never happened; if the
        // leaf is also present it is the ORIGINAL (pre-swap) content
        if (fs.exists(leaf)) {
          moveHiddenEntries(fs, leaf, stage)
          require(fs.rename(leaf, old),
            s"compact: dirswap recovery rename-out failed: $leaf -> $old")
        }
        require(fs.rename(stage, leaf),
          s"compact: dirswap recovery rename-in failed: $stage -> $leaf")
      }
      if (fs.exists(old))
        require(fs.delete(old, true),
          s"compact: dirswap recovery old cleanup failed: $old")
      require(fs.delete(mk.getPath, false),
        s"compact: dirswap recovery marker cleanup failed: ${mk.getPath}")
      acted = true
    }
    // stray stage/old dirs whose marker never committed (or was already
    // cleaned): invisible leftovers — discard
    val committed = markers.map(_.getPath.getName.stripPrefix(DirSwapMarker)).toSet
    entries.filter { e =>
      val n = e.getPath.getName
      e.isDirectory &&
        ((n.startsWith(DirSwapStage) && !committed(n.stripPrefix(DirSwapStage))) ||
         (n.startsWith(DirSwapOld) && !committed(n.stripPrefix(DirSwapOld))))
    }.foreach { e =>
      if (fs.exists(e.getPath)) {
        require(fs.delete(e.getPath, true),
          s"compact: stale dirswap dir cleanup failed: ${e.getPath}")
        acted = true
      }
    }
    acted
  }

  /** Finishes (marker present — the swap committed; complete it) or
    * discards (staging without marker — nothing visible ever changed)
    * a crashed [[compact]] swap in `dir`, working off the caller's
    * `entries` listing (no extra LIST RPC on the no-marker fast path).
    * Returns whether anything was mutated. Idempotent. */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
                          dir: org.apache.hadoop.fs.Path,
                          entries: Array[org.apache.hadoop.fs.FileStatus]): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(dir, CompactMarker)
    val staging = new org.apache.hadoop.fs.Path(dir, CompactStaging)
    var acted = false
    // a crash mid-marker-WRITE leaves only the hidden temp (the rename
    // never happened — nothing visible changed): discard it
    entries
      .filter(e => e.isFile &&
        e.getPath.getName.startsWith(CompactMarker + ".") &&
        e.getPath.getName.endsWith(".tmp"))
      .foreach { e =>
        require(fs.delete(e.getPath, false),
          s"compact: stale marker-temp cleanup failed: ${e.getPath}")
        acted = true
      }
    val hasMarker = entries.exists(e =>
      e.isFile && e.getPath.getName == CompactMarker)
    if (!hasMarker) {
      if (entries.exists(e =>
          e.isDirectory && e.getPath.getName == CompactStaging)) {
        require(fs.delete(staging, true),
          s"compact: stale staging cleanup failed: $staging")
        acted = true
      }
      return acted
    }
    val txt = {
      val in = fs.open(marker)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val lines = txt.split("\n").filter(_.nonEmpty)
    require(lines.nonEmpty, s"compact: malformed swap marker $marker")
    val nonce = lines.head
    val originals = lines.tail
    if (fs.exists(staging)) {
      fs.listStatus(staging)
        .filter(e => e.isFile && !hiddenName(e.getPath.getName))
        .foreach { e =>
          val dest = new org.apache.hadoop.fs.Path(dir,
            s"graft-compact-$nonce-${e.getPath.getName}")
          // a file already renamed by the crashed pass leaves no staged
          // copy behind (rename is a move) — anything still staged goes in
          require(fs.rename(e.getPath, dest),
            s"compact: recovery rename failed: ${e.getPath} -> $dest")
        }
    }
    originals.foreach { n =>
      val p = new org.apache.hadoop.fs.Path(dir, n)
      if (fs.exists(p))
        require(fs.delete(p, false), s"compact: recovery delete failed: $p")
    }
    require(fs.delete(marker, false),
      s"compact: recovery marker cleanup failed: $marker")
    if (fs.exists(staging))
      require(fs.delete(staging, true),
        s"compact: recovery staging cleanup failed: $staging")
    true
  }

  /** Bucketed (hash-clustered) table layout — the CO-LOCATED JOIN
    * primitive the 100 TB design leans on: two tables written with the
    * same bucket count on their join key hash-route matching keys to
    * matching buckets AT WRITE TIME, so joins between them (and
    * aggregations on the bucket key) plan with ZERO Exchange — the
    * shuffle is paid once when the table is laid down, not per query.
    * Equality filters on the key also prune to a single bucket's files
    * (`SelectedBucketsCount` in the scan).
    *
    * Spark's bucketing metadata lives in the session catalog, so the
    * table registers under `name` with its files at the caller-owned
    * `path` (external table: dropping the name never deletes data).
    * Any existing registration is replaced. `sortCols` adds in-bucket
    * ordering (sort-merge joins then skip the per-task sort too).
    */
  def writeBucketed(df: DataFrame, name: String, path: String, key: String,
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = df.sparkSession
    // saveAsTable(Overwrite) on a pre-existing EXTERNAL table validates
    // the old schema/bucket spec first; a plain drop gives replace
    // semantics for re-runs with a different layout
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(name)
  }

  /** MERGE a CDC change batch into a snapshot (the lakehouse
    * `MERGE INTO` / upsert primitive): `changes` rows carry a key, a
    * monotone sequence (`seqCol` — commit LSN / change timestamp), an
    * operation (`opCol`: `"D"` deletes, anything else upserts), and the
    * new `payloadCols`. Per key the HIGHEST-sequence change wins, then
    * applies against the snapshot: delete drops the row (or is a no-op
    * on an absent key), upsert replaces the payload or inserts the key.
    * Output schema = `key ++ payloadCols`.
    *
    * Winner selection is a single `max(struct(__chg, seq, op,
    * payloads…))` aggregation over the UNION of snapshot rows (`__chg`
    * 0) and change rows (`__chg` 1) — partial-agg shuffles one winner
    * candidate per key per map task, never the change log — so any
    * change supersedes the snapshot row and equal-`seqCol` conflicts
    * resolve deterministically by the struct order (op, then payloads,
    * descending; nulls low). ONE exchange total (round 15; the previous
    * aggregate-then-full-outer-join form paid three — the change
    * groupBy, the snapshot's join shuffle, and the sort-merge join);
    * at 100 TB the snapshot side is the only heavy flow and it now
    * crosses the network once. Requires at most one snapshot row per
    * key (the snapshot contract); a duplicated snapshot key raises.
    */
  def mergeChanges(snapshot: DataFrame, changes: DataFrame, key: String,
                   seqCol: String, opCol: String,
                   payloadCols: Seq[String]): DataFrame = {
    val cands = mergeCandidates(snapshot, changes, key, seqCol, opCol,
      payloadCols)
    mergeWinners(cands.groupBy(col(key)), key, opCol, payloadCols)
  }

  /** The candidate-union half of [[mergeChanges]] (round 15, shared with
    * `UpsertSink.applyBatch` so the sink can cluster the winner
    * aggregation by bucket): every snapshot row and every change row
    * becomes `(key, __cand)` where `__cand = struct(__chg, seq, op,
    * payloads…)` — `__chg` is 0 for snapshot rows and 1 for changes, so
    * `max(__cand)` per key picks EXACTLY the row the old
    * aggregate-then-full-outer-join form picked (any change supersedes
    * the snapshot; among changes the highest (seq, op, payloads…) struct
    * wins, nulls low), with ONE exchange instead of three (the change
    * winner groupBy, the snapshot's join shuffle, and the join itself
    * are gone; partial aggregation still ships one candidate per key per
    * map task). Requires the snapshot to be a KEYED snapshot — at most
    * one row per non-null key (the store contract; a duplicate- or
    * null-keyed "snapshot" is not a snapshot). */
  private[graft] def mergeCandidates(snapshot: DataFrame, changes: DataFrame,
                                     key: String, seqCol: String,
                                     opCol: String,
                                     payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.nonEmpty, "payloadCols must be non-empty")
    require(!payloadCols.contains(key), "payloadCols must not repeat the key")
    val reserved = (Seq(key, seqCol, opCol) ++ payloadCols)
      .filter(c => c == "__chg" || c == "__cand" || c == "__w" || c == "__snap")
    require(reserved.isEmpty,
      s"mergeChanges reserves __chg/__cand/__w/__snap: ${reserved.mkString(", ")}")
    val missing = (Seq(key, seqCol, opCol) ++ payloadCols)
      .filterNot(changes.columns.contains)
    require(missing.isEmpty, s"changes is missing columns: ${missing.mkString(", ")}")
    require(snapshot.columns.contains(key) && payloadCols.forall(snapshot.columns.contains),
      "snapshot must carry the key and every payload column")

    // a NULL op or a NULL KEY is a malformed change: fail LOUDLY during
    // the scan. (A null change key would otherwise collapse into one
    // winner group and emit a phantom row — silently accumulating
    // through a CDC sink.)
    val checked = changes
      .withColumn(opCol,
        when(col(opCol).isNull,
          raise_error(concat(lit(s"mergeChanges: NULL $opCol for key="),
            col(key).cast("string"))))
          .otherwise(col(opCol)))
      .withColumn(key,
        when(col(key).isNull,
          raise_error(lit(s"mergeChanges: NULL $key in a change row")))
          .otherwise(col(key)))
    val seqT = changes.schema(seqCol).dataType
    val opT = changes.schema(opCol).dataType
    def cand(chg: Int, seqC: org.apache.spark.sql.Column,
             opC: org.apache.spark.sql.Column,
             pay: Seq[org.apache.spark.sql.Column]) =
      struct((lit(chg).as("__chg") +: seqC.as(seqCol) +: opC.as(opCol) +:
        payloadCols.zip(pay).map { case (c, e) => e.as(c) }): _*).as("__cand")
    snapshot.select(col(key),
        cand(0, lit(null).cast(seqT), lit(null).cast(opT),
          payloadCols.map(col)))
      .unionByName(checked.select(col(key),
        cand(1, col(seqCol), col(opCol), payloadCols.map(col))))
  }

  /** The winner-selection half of [[mergeChanges]]: `max(__cand)` per
    * group, deletes dropped (a delete of an absent key has no snapshot
    * candidate to suppress — the group just vanishes, the no-op), output
    * projected to `prefixCols ++ key ++ payloads`. `grouped` must group
    * a [[mergeCandidates]] frame by `key` (plus any prefix columns that
    * are functions of the key — how the sink keeps its bucket routing
    * clustered through the aggregation). A key with more than one
    * snapshot candidate fails LOUDLY: the snapshot contract is broken,
    * and `max` would otherwise collapse the duplicates to one row. The
    * count rides the same aggregate, so the merge stays one exchange. */
  private[graft] def mergeWinners(
      grouped: org.apache.spark.sql.RelationalGroupedDataset, key: String,
      opCol: String, payloadCols: Seq[String],
      prefixCols: Seq[String] = Nil): DataFrame =
    grouped.agg(max(col("__cand")).as("__w"),
        count(when(col("__cand.__chg") === 0, lit(1))).as("__snap"))
      .where(when(col("__snap") > 1,
          raise_error(concat(lit(s"mergeChanges: duplicate $key "),
            coalesce(col(key).cast("string"), lit("NULL")), lit(" in the snapshot"))))
        .otherwise(col("__w.__chg") === 0 || col(s"__w.$opCol") =!= "D"))
      .select(prefixCols.map(col) ++ (col(key) +:
        payloadCols.map(c => col(s"__w.$c").as(c))): _*)
}
