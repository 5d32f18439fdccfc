package graft.operators

import graft.Graft
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed spatial join — grid-partitioned (PBSM-style).
  *
  * The reference evaluates spatial pair predicates by pushing one side down
  * to the document DB and finishing in PostGIS (reference:
  * src/getdata.ts:110, extension/basex/basex_extension.ts:385
  * constructSpatialFunctionTwoArgs). A single-node join like that can't
  * scale; here each geometry maps to the fixed-grid cells covering its
  * envelope (left side expanded by the join radius), candidates meet via a
  * hash equi-join on cell id — NO cartesian product, no driver collect —
  * and are refined with the exact JTS predicate.
  *
  * Duplicate candidate pairs (geometries spanning several common cells) are
  * eliminated with the standard reference-point rule: a pair is emitted only
  * from the one cell containing the top-left corner of the envelope
  * intersection, so no post-join `dropDuplicates` shuffle is needed. One
  * kernel, `grid_ref_cell(l, r, radius, cell)`, computes that cell from
  * one decode of each side; radius and cell are its arguments, so every
  * radius (each `knnJoin` round, each `distanceJoin`/`dbscan` call) runs
  * the same generated code.
  *
  * Scale notes (100 TB): both sides shuffle-partition by cell id → skew is
  * bounded by cell size (tune `cellSize` ≈ radius or median envelope);
  * AQE's skew-join splitting handles hot cells; a small right side is
  * broadcast automatically by Spark's size estimation.
  */
object SpatialJoin {

  /** Pairs within `radius`: refine = ST_DWithin(l, r, radius).
    * `cellSize ≤ 0` derives the grid from envelope stats ([[autoCellSize]]). */
  def distanceJoin(left: DataFrame, leftGeom: String,
                   right: DataFrame, rightGeom: String,
                   radius: Double, cellSize: Double = 0.0): DataFrame =
    join(left, leftGeom, right, rightGeom, radius, cellSize,
      (lg, rg) => call_function("st_dwithin", lg, rg, lit(radius)))

  /** Intersecting pairs: refine = ST_Intersects(l, r). */
  def intersectsJoin(left: DataFrame, leftGeom: String,
                     right: DataFrame, rightGeom: String,
                     cellSize: Double = 0.0): DataFrame =
    join(left, leftGeom, right, rightGeom, 0.0, cellSize,
      (lg, rg) => call_function("st_intersects", lg, rg))

  /** Left-geometry-within-right pairs: refine = ST_Within(l, r). */
  def withinJoin(left: DataFrame, leftGeom: String,
                 right: DataFrame, rightGeom: String,
                 cellSize: Double = 0.0): DataFrame =
    join(left, leftGeom, right, rightGeom, 0.0, cellSize,
      (lg, rg) => call_function("st_within", lg, rg))

  /** Rows drawn from each side for the auto grid: `take` scans partitions
    * only until it has them, so the sample job's cost is
    * corpus-size-independent. */
  private val SampleRows = 20000

  /** Grid size from a bounded envelope-stats sample:
    * max(radius, median extent, p99 extent / 16) — PBSM-standard sizing
    * with a replication guard. A cell much smaller than a typical envelope
    * explodes the per-row cell count (each geometry covers
    * O((extent/cell)²) cells); much larger and candidate pruning degrades
    * toward a per-cell cartesian. The median alone fails on MIXED inputs
    * (points + country-sized polygons: median 0 → the polygons shatter
    * into tens of thousands of cells), so the p99/16 term caps the
    * replication of all but the outlier tail at ≤ ~289 cells per row;
    * over-wide cells that result only concentrate candidates, which AQE's
    * skew-join split absorbs. Falls back to 1/256 of the sampled span for
    * degenerate inputs (all points, radius 0), and to 1.0 when even the
    * span is a single point.
    *
    * The sample is a `take` of each side's envelopes, aggregated as a
    * local relation. A `limit` inside the aggregated plan would put a
    * LIMIT into generated code, and Spark names each LIMIT's row counter
    * uniquely per plan, so every call would compile new classes. */
  def autoCellSize(left: DataFrame, leftGeom: String,
                   right: DataFrame, rightGeom: String,
                   radius: Double): Double = {
    val spark = left.sparkSession
    Graft.register(spark)
    def envelopes(df: DataFrame, g: String) = df.select(
        call_function("st_xmin", col(g)).as("x0"),
        call_function("st_xmax", col(g)).as("x1"),
        call_function("st_ymin", col(g)).as("y0"),
        call_function("st_ymax", col(g)).as("y1"))
    val leftEnv = envelopes(left, leftGeom)
    val sample = spark.createDataFrame(
      java.util.Arrays.asList(leftEnv.take(SampleRows) ++ envelopes(right, rightGeom).take(SampleRows): _*),
      leftEnv.schema)
    val row = sample.select(
        greatest(col("x1") - col("x0"), col("y1") - col("y0")).as("ext"),
        col("x0"), col("x1"), col("y0"), col("y1"))
      .agg(percentile_approx(col("ext"), lit(0.5), lit(1000)).as("med"),
        percentile_approx(col("ext"), lit(0.99), lit(1000)).as("p99"),
        (max("x1") - min("x0")).as("spanx"), (max("y1") - min("y0")).as("spany"))
      .head()
    def d(i: Int): Double = if (row.isNullAt(i)) 0.0 else row.getDouble(i)
    val span = math.max(d(2), d(3))
    val c = math.max(radius, math.max(d(0), d(1) / 16.0))
    if (c > 0) c else if (span > 0) span / 256.0 else 1.0
  }

  /** Exact k-nearest-neighbors join: each left row pairs with its `k`
    * nearest right rows by planar `ST_Distance` (ties broken by
    * `rightId`), with `knn_dist` and `knn_rank` (1 = nearest) appended.
    * Rows whose side has fewer than `k` counterparts get them all;
    * null-geometry rows are excluded from both sides (inner-join
    * semantics — a null has no distance to anything).
    *
    * The classic expanding-radius reduction to the grid join: round t
    * runs [[distanceJoin]] at radius r_t over the still-unresolved left
    * rows; a left row is RESOLVED once it has ≥ min(k, |right|)
    * candidates within r_t — its true k nearest are then provably among
    * them — and only unresolved rows ride into round t+1 at doubled
    * radius. The initial radius solves expected-k from the right side's
    * sampled point density, so most rows resolve in round one; each
    * round re-grids at cell = r_t, keeping envelope replication O(1)
    * per row no matter how far the radius grows (a fixed fine grid
    * would shatter an expanded envelope into (r/cell)² cells).
    *
    * Scale notes (100 TB): every round is the PBSM grid join (no
    * cartesian, no driver geometry), per-round state is localCheckpointed
    * so lineage stays flat, the per-left candidate sets the window ranks
    * are bounded (≈ density·r², and only rows that NEEDED radius r reach
    * round r), and the right side is re-scanned once per round — rounds
    * are logarithmic and in practice 1-3. Degenerate densities (all
    * right rows at one point) just expand until the span is covered.
    */
  def knnJoin(left: DataFrame, leftGeom: String, leftId: String,
              right: DataFrame, rightGeom: String, rightId: String,
              k: Int, maxRounds: Int = 40): DataFrame = {
    require(k > 0, "k must be positive")
    require(leftGeom != rightGeom, "geometry columns must have distinct names")
    require(leftId != rightId, "id columns must have distinct names")
    Graft.register(left.sparkSession)
    import org.apache.spark.sql.expressions.Window

    // null-geometry rows have no distance to anything: excluded from both
    // sides (inner-join semantics — the distanceJoin rounds would drop
    // them anyway, but a null LEFT row that merely *dropped* from every
    // round would read as "unresolved" and crash the convergence check,
    // and null RIGHT rows must not inflate the |right| the resolution
    // threshold compares against)
    val leftNN = left.where(col(leftGeom).isNotNull)
    val rightNN = right.where(col(rightGeom).isNotNull)

    // ONE stats job (round 15; was two): right count + right span + the
    // combined span, aggregated over a side-tagged union of both sides'
    // envelopes — the right-only figures take conditional aggregates
    def env(df: DataFrame, g: String, isRight: Int) = df.select(
      call_function("st_xmin", col(g)).as("x0"),
      call_function("st_xmax", col(g)).as("x1"),
      call_function("st_ymin", col(g)).as("y0"),
      call_function("st_ymax", col(g)).as("y1"),
      lit(isRight).as("r"))
    val st = env(leftNN, leftGeom, 0).unionAll(env(rightNN, rightGeom, 1))
      .agg(count(when(col("r") === 1, 1)),
        max(when(col("r") === 1, col("x1"))) - min(when(col("r") === 1, col("x0"))),
        max(when(col("r") === 1, col("y1"))) - min(when(col("r") === 1, col("y0"))),
        max("x1") - min("x0"), max("y1") - min("y0")).head()
    val rightTotal = st.getLong(0)
    if (rightTotal == 0L) { // no neighbors to find: empty result, full shape
      return left.crossJoin(right.limit(0))
        .withColumn("knn_dist", lit(0.0)).withColumn("knn_rank", lit(0))
        .limit(0)
    }
    def sd(i: Int): Double = if (st.isNullAt(i)) 0.0 else st.getDouble(i)
    val rSpanX = sd(1)
    val rSpanY = sd(2)
    // the COMBINED extent bounds every left↔right distance (a left row
    // outside the right extent needs a radius past the right span)
    val maxDist = math.sqrt(sd(3) * sd(3) + sd(4) * sd(4)) // combined diagonal
    val need = math.min(k.toLong, rightTotal).toInt
    // expected-k radius from the right side's mean density, 1.2 head-room
    // so the typical row resolves in round one; degenerate extents fall
    // back to a slice of the combined span, then to 1.0
    val r0 = {
      val area = rSpanX * rSpanY
      val byDensity =
        if (area > 0) 1.2 * math.sqrt(k * area / (math.Pi * rightTotal)) else 0.0
      val c = math.max(byDensity, maxDist / 1024.0)
      if (c > 0) c else 1.0
    }

    val w = Window.partitionBy(col(leftId)).orderBy(col("knn_dist"), col(rightId))
    var unresolved = leftNN
    var unresolvedN = -1L // unknown before the first round's count
    var resolved: DataFrame = null
    var r = r0
    var rounds = 0
    while (rounds < maxRounds &&
        (if (unresolvedN < 0) !unresolved.isEmpty else unresolvedN > 0)) {
      val ranked = distanceJoin(unresolved, leftGeom, rightNN, rightGeom,
          radius = r, cellSize = r)
        .withColumn("knn_dist",
          call_function("st_distance", col(leftGeom), col(rightGeom)))
        .withColumn("knn_rank", row_number().over(w))
        .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col(leftId))))
      // LAZY checkpoints (round 15): the round's ONE job is the count
      // below — the anti-join consumes `done` fully, so both frames
      // materialize there and the stop check rides the same job. The
      // eager form paid three jobs per round (done fill, unresolved
      // fill, isEmpty probe) for the same work.
      val done = ranked
        .where(col("__cnt") >= need && col("knn_rank") <= k)
        .drop("__cnt")
        .localCheckpoint(false)
      resolved = if (resolved == null) done else resolved.unionAll(done)
      val prevUnresolved = if (rounds == 0) null else unresolved
      unresolved = unresolved
        .join(done.select(col(leftId)).distinct(), Seq(leftId), "left_anti")
        .localCheckpoint(false)
      unresolvedN = unresolved.count() // materializes unresolved AND done
      // the new checkpoint is materialized, so the PREVIOUS round's
      // unresolved blocks are dead — but only rounds >= 1 own their
      // frame (round 0's input may share the caller's checkpoints)
      if (prevUnresolved != null) Dedup.releaseFrame(prevUnresolved)
      // once the radius covers the combined diagonal every right row is
      // a candidate for every left row, so counts reach |right| ≥ need
      // and nothing can stay unresolved — a safety net, not a path
      if (r > maxDist + r0 && unresolvedN > 0)
        throw new IllegalStateException(
          s"knnJoin did not converge: radius $r exceeds the combined extent " +
            s"$maxDist with left rows still unresolved")
      r *= 2
      rounds += 1
    }
    require(unresolvedN <= 0,
      s"knnJoin did not resolve all left rows in $maxRounds rounds")
    // an empty (or all-null-geometry) left side never enters the loop:
    // answer the empty frame in the result's shape, not null
    if (resolved == null)
      left.limit(0).crossJoin(right.limit(0))
        .withColumn("knn_dist", lit(0.0)).withColumn("knn_rank", lit(0))
    else {
      // the last round's (empty-by-require) unresolved checkpoint is dead
      if (rounds > 0) Dedup.releaseFrame(unresolved)
      // the result unions the rounds' checkpointed `done` frames — register
      // them so releaseResults() reclaims the blocks once consumed
      Dedup.trackResult(resolved)
    }
  }

  private def join(left: DataFrame, leftGeom: String,
                   right: DataFrame, rightGeom: String,
                   radius: Double, cellSize: Double,
                   refine: (Column, Column) => Column): DataFrame = {
    require(leftGeom != rightGeom, "geometry columns must have distinct names")
    Graft.register(left.sparkSession)
    val cell = lit(
      if (cellSize > 0) cellSize
      else autoCellSize(left, leftGeom, right, rightGeom, radius))

    val l = left.withColumn("__cell",
      explode(call_function("grid_cells", col(leftGeom), lit(radius), cell)))
    val r = right.withColumn("__cell",
      explode(call_function("grid_cells", col(rightGeom), lit(0.0), cell)))

    // reference point: top-left corner of (left env expanded by radius) ∩ right env
    l.join(r, "__cell")
      .where(call_function("grid_ref_cell", col(leftGeom), col(rightGeom), lit(radius), cell) ===
        col("__cell"))
      .where(refine(col(leftGeom), col(rightGeom)))
      .drop("__cell")
  }

  /** DBSCAN density clustering (Ester et al. 1996) over a geometry
    * column — the PostGIS `ST_ClusterDBSCAN` analog, composed from this
    * file's grid distance join and [[Dedup.clusters]]' connected
    * components, so every stage is the already-scale-proven one:
    *
    *   - neighborhoods: one eps-self-join (grid-bucketed, no cartesian),
    *     counting neighbors INCLUDING the point itself (the classic
    *     |N_eps(p)| ≥ minPts core test);
    *   - CORE points (≥ minPts neighbors) cluster by connectivity:
    *     core–core pairs within eps feed min-label connected components,
    *     so the cluster label is the MINIMUM core id of the component —
    *     canonical and deterministic (no arbitrary numbering);
    *   - BORDER points (non-core within eps of ≥ 1 core) join the
    *     smallest cluster label among their core neighbors — the classic
    *     DBSCAN border-tie ambiguity resolved deterministically, because
    *     a Spark retry must re-derive identical labels;
    *   - everything else is NOISE (cluster NULL).
    *
    * Result: `(idCol, role ∈ core|border|noise, cluster)`. Ids must be
    * unique; null geometries are noise. Distance is planar ST_Distance
    * (`eps`-inclusive), deterministic — the DuckDB oracle replays the
    * whole construction, recursive closure included.
    *
    * The returned frame is eagerly materialized (it is |points| rows —
    * small next to the eps-join), and the operator's own intermediates
    * are released before returning, so [[Dedup.releaseCaches]] at ANY
    * later point cannot strand the result on dropped checkpoint blocks.
    *
    * Parameter sweeps (the practical DBSCAN workflow — minPts is tuned,
    * eps fixed): compute [[epsPairs]] ONCE and call [[dbscanFromPairs]]
    * per minPts — the eps self-join (the dominant cost) runs once for
    * the whole sweep. The caller owns the pairs frame's lifetime. */
  def dbscan(df: DataFrame, idCol: String, geomCol: String,
             eps: Double, minPts: Int, cellSize: Double = 0.0): DataFrame = {
    val pairs = epsPairs(df, idCol, geomCol, eps, cellSize)
    val res = Dedup.trackResult(
      dbscanFromPairs(df, idCol, geomCol, pairs, minPts).localCheckpoint(true))
    Dedup.releaseFrame(pairs) // res no longer references the blocks
                              // (unpersist alone no-ops on checkpoints)
    res
  }

  /** The eps-neighborhood self-join [[dbscanFromPairs]] consumes:
    * `(__ida, __idb)` for every pair within `eps` (self-pairs included —
    * the |N_eps(p)| core test counts the point itself). Grid-bucketed,
    * no cartesian; eagerly materialized (it is read three times per
    * DBSCAN pass and once per sweep point) and registered with
    * [[Dedup.track]], so a caller that didn't keep the handle can still
    * reclaim the blocks via releaseCaches — AFTER its sweep results are
    * materialized or discarded. */
  def epsPairs(df: DataFrame, idCol: String, geomCol: String,
               eps: Double, cellSize: Double = 0.0): DataFrame = {
    require(eps > 0.0, s"eps must be positive, got $eps")
    val pts = df.select(col(idCol).as("__id"), col(geomCol).as("__g"))
      .where(col("__g").isNotNull)
    val pairs = distanceJoin(
        pts.select(col("__id").as("__ida"), col("__g").as("__ga")), "__ga",
        pts.select(col("__id").as("__idb"), col("__g").as("__gb")), "__gb",
        eps, cellSize)
      .select("__ida", "__idb")
      .localCheckpoint(true)
    Dedup.track(pairs)
  }

  /** DBSCAN labeling over a PRECOMPUTED eps-neighborhood pair frame
    * (from [[epsPairs]], or any `(__ida, __idb)` frame with the same
    * contract). Lazy — the result references `pairs`, whose lifetime
    * the caller owns; materialize sweep results before releasing it. */
  def dbscanFromPairs(df: DataFrame, idCol: String, geomCol: String,
                      pairs: DataFrame, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pts = df.select(col(idCol).as("__id"), col(geomCol).as("__g"))
      .where(col("__g").isNotNull)
    val core = pairs.groupBy("__ida").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minPts)
      .select(col("__ida").as("__core"))
    val coreEdges = pairs
      .join(core.select(col("__core").as("__ida")), "__ida")
      .join(core.select(col("__core").as("__idb")), "__idb")
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
    // every core has its self-pair edge, so isolated cores still label
    val comps = Dedup.clusters(coreEdges) // (id, cluster) = min reachable id
    val coreLabeled = comps.select(col("id").as("__id"), col("cluster"))
    val borderLabeled = pairs
      .join(core.select(col("__core").as("__idb")), "__idb") // neighbor is core
      .join(coreLabeled.select(col("__id").as("__idb"), col("cluster")), "__idb")
      .join(comps.select(col("id").as("__ida")), Seq("__ida"), "left_anti") // non-core only
      .groupBy(col("__ida").as("__id"))
      .agg(min("cluster").as("cluster"))
    pts.select("__id")
      .join(coreLabeled.withColumn("role", lit("core")), Seq("__id"), "left")
      .join(borderLabeled
          .select(col("__id"), col("cluster").as("__bc")), Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("role"),
          when(col("__bc").isNotNull, "border").otherwise("noise")).as("role"),
        coalesce(col("cluster"), col("__bc")).as("cluster"))
  }
}
