package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Corpus-construction operators for LLM training-data pipelines:
  * deterministic sampling, domain-mixture weighting, greedy sequence
  * packing, sliding-window chunking, and corpus TF-IDF.
  *
  * Everything here is built for the 100 TB case:
  *   - sampling decisions are PURE scan-level predicates derived from a
  *     portable hash — no shuffle, no RNG state, reproducible across
  *     re-runs, partitions, and engines (the same expression evaluates
  *     identically in DuckDB/Trino, which is how the oracle verifies it);
  *   - the only aggregations are tiny (per-domain token totals: one row
  *     per domain), broadcast back onto the corpus scan;
  *   - packing is the classic secondary-sort pattern — hash-partition by
  *     group, sort within partitions, one O(1)-state sequential pass —
  *     the corpus bodies shuffle once and driver state is zero.
  */
object Corpus {

  /** Deterministic uniform in [0, 1) derived from `md5(salt ++ key)`:
    * the first 8 hex chars as an unsigned 32-bit integer / 2^32.
    *
    * This is the reproducibility primitive for sampling: a rerun of the
    * pipeline (or the same pipeline on another engine) selects the SAME
    * rows, which is what makes training sets auditable. Pure codegen'd
    * column expression — no UDF, no RNG, no shuffle. A null key yields a
    * null uniform, so predicates built on it drop null-id rows — ids are
    * expected to be non-null upstream.
    */
  def hashUniform(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string")).cast("binary")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Deterministic Bernoulli sample at `rate` keyed on `idCol`.
    *
    * Unlike `df.sample()` (partition-order-dependent RNG), membership is a
    * function of the row's id alone: stable under repartitioning, task
    * retries, and incremental reprocessing. The predicate sits at the scan
    * (WholeStageCodegen, no shuffle), so at 100 TB this is a single
    * filtered pass.
    */
  def sampleByHash(df: DataFrame, idCol: String, rate: Double,
                   salt: String = "sample"): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.where(hashUniform(col(idCol), salt) < rate)
  }

  /** Deterministic EXACT-size stratified sample: min(n, |group|) rows per
    * `groupCol` group — the "same number of documents from every domain /
    * language" selection step, where [[sampleByHash]]'s Bernoulli rate
    * can't promise exact counts.
    *
    * Selection is the n smallest `(hashUniform(id), id)` pairs per group,
    * computed with the bounded `bottomk_agg` heap aggregate
    * (TopKAggregate.scala): map-side partials are already capped at n, so
    * the shuffle carries ≤ n·partitions ids per group instead of the
    * group's rows, and no window function buffers a group in one task. A
    * second pass semi-joins the picked ids back onto the corpus (the
    * pick frame is |groups|·n rows — broadcastable whenever that is
    * small). Deterministic: membership depends only on ids, independent
    * of partitioning; ties are impossible (id is in the sort key).
    * Null-id rows are dropped; a null group is a group of its own.
    */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String, n: Int,
                       salt: String = "strat"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    kPicksSemiJoin(df, groupCol, idCol, col(idCol).isNotNull,
      hashUniform(col(idCol), salt), "bottomk_agg", n)
  }

  /** Shared picker shape for the exact-size samplers: the eligible rows'
    * `(key, id)` pairs fold through the k-bounded heap aggregate per
    * group, and the picked ids semi-join back onto the corpus. */
  private def kPicksSemiJoin(df: DataFrame, groupCol: String, idCol: String,
                             eligible: Column, keyCol: Column, aggName: String,
                             n: Int): DataFrame = {
    graft.Graft.register(df.sparkSession) // the heap aggregates, idempotent
    val picks = df
      .where(eligible)
      .select(col(groupCol).as("__g"),
        struct(keyCol.as("k"), col(idCol).as("id")).as("__s"))
      .groupBy(col("__g"))
      .agg(call_function(aggName, col("__s"), lit(n)).as("__ks"))
      .select(col("__g"), explode(col("__ks.id")).as("__id"))
    df.join(picks,
      col(groupCol) <=> col("__g") && col(idCol) === col("__id"), "left_semi")
  }

  /** Deterministic WEIGHTED sample without replacement: min(n, |group|)
    * rows per group, each row's selection odds proportional to
    * `weightCol` — the Efraimidis–Spirakis A-ES scheme (2006), in the
    * LOG-SPACE form: rank by `ln(u)/w` with `u = hashUniform(id)` and
    * keep the n LARGEST keys (order-equivalent to the textbook
    * `u^(1/w)`, but `u^(1/w)` UNDERFLOWS to 0 for small weights — a
    * classifier score of 0.001 zeroes half a group's keys — while the
    * log form cannot). Where [[stratifiedSample]] samples uniformly,
    * this is the quality-weighted selection step (keep more of what a
    * classifier or PageRank prior scored higher) — still a pure
    * function of ids and weights, so reruns and repartitions select
    * identical rows.
    *
    * Same bounded shape as [[stratifiedSample]] (shared helper):
    * `topk_agg`'s k-capped heap per group, a semi-join back. Rows with
    * null ids or null/NaN/non-positive weights are excluded (no defined
    * selection odds — NaN needs its own check, since `NaN > 0` is TRUE
    * under Spark's total ordering and a NaN key would sort above every
    * real one). Ties are impossible (id is in the sort key).
    * Double-precision `ln` is engine-specific at the last ulp; the
    * q_weighted_sample oracle is nevertheless safe because the
    * selection-boundary key gaps on the driver's fixed data are
    * MEASURED at ≥ 5.5e-3 relative — thirteen orders of magnitude
    * above a 1-ulp divergence (SURVEY §2). On arbitrary data the
    * guarantee is determinism WITHIN the engine; cross-engine rank
    * equality holds whenever boundary keys aren't ulp-close.
    */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
                     weightCol: String, n: Int,
                     salt: String = "wsample"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val w = col(weightCol).cast("double")
    val key = log(hashUniform(col(idCol), salt)) / w
    kPicksSemiJoin(df, groupCol, idCol,
      col(idCol).isNotNull && w.isNotNull && !isnan(w) && w > 0.0,
      key, "topk_agg", n)
  }

  /** Snapshot diff for incremental corpus pipelines: classify every id
    * across two corpus versions as `added` (in `b` only), `removed` (in
    * `a` only), `changed` (both, any `contentCols` value differs,
    * null-safely), or `unchanged`. Returns `(idCol, status)`.
    *
    * This is the audit step between crawl snapshots / dataset releases —
    * what actually changed, before deciding what to re-process. Plan
    * shape at 100 TB: each side projects to `(id, md5(to_json(content)))`
    * at the scan, so document BODIES never shuffle — the full-outer join
    * moves 16-byte hashes, and a changed 100 KB document costs the same
    * as a changed 10-byte one. Ids must be unique non-null keys within
    * each snapshot (a null id cannot be matched and would surface as an
    * added+removed pair).
    */
  def diffSnapshots(a: DataFrame, b: DataFrame, idCol: String,
                    contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "contentCols must be non-empty")
    // a MAP's to_json order follows its internal layout, so two logically
    // equal maps materialized by different shuffle paths would hash as
    // 'changed' — refuse rather than silently misclassify (callers can
    // pre-normalize with sorted map_entries)
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMap(f.dataType))
      case arr: org.apache.spark.sql.types.ArrayType => hasMap(arr.elementType)
      case _ => false
    }
    Seq(a, b).foreach { df =>
      contentCols.foreach { c =>
        require(!hasMap(df.schema(c).dataType),
          s"content column '$c' contains a MAP type, whose JSON key order is " +
            "layout-dependent — normalize to sorted entries before diffing")
      }
    }
    def prep(df: DataFrame, id: String, h: String) =
      df.select(col(idCol).as(id),
        // to_json (not concat_ws) so nulls, empties, and field boundaries
        // hash distinctly
        md5(to_json(struct(contentCols.map(col): _*))).as(h))
    prep(a, "__ida", "__ha")
      .join(prep(b, "__idb", "__hb"), col("__ida") === col("__idb"), "full_outer")
      .select(coalesce(col("__ida"), col("__idb")).as(idCol),
        when(col("__ida").isNull, "added")
          .when(col("__idb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Single-pass column profile: for every target column, `(column,
    * n_rows, n_nulls, n_distinct, min, max)` with min/max rendered as
    * strings AFTER type-correct comparison (casting first would compare
    * numbers lexicographically).
    *
    * The standard data-quality audit before/after a pipeline stage
    * (did a join explode nulls? did dedup collapse a key?). All
    * statistics come from ONE aggregate over ONE scan — Catalyst plans
    * the multiple `count(DISTINCT)`s with a single Expand, so cost is
    * bounded by the distinct values per column, not passes — and the
    * one-row result melts to per-column rows driver-free.
    *
    * `approx = true` swaps every exact `count(DISTINCT)` for the KMV
    * theta sketch (`kmv_distinct` over a 60-bit md5 hash of the value,
    * bounded `kmvK`-long state per column) — the 100 TB shape: the
    * exact plan's Expand shuffles every distinct value of every column,
    * the sketch shuffles ≤ kmvK longs per column per partition, and
    * counts under kmvK stay EXACT by construction (the sketch isn't
    * full). Estimates land within a few percent at k=1024; min/max/
    * null counts are exact in both modes.
    */
  def profile(df: DataFrame, cols: Seq[String] = Nil,
              approx: Boolean = false, kmvK: Int = 1024): DataFrame = {
    val targets = if (cols.isEmpty) df.columns.toSeq else cols
    require(targets.nonEmpty, "no columns to profile")
    if (approx) graft.Graft.register(df.sparkSession)
    // backtick-quote every reference and key internal aliases by INDEX:
    // profile opts every column in automatically, and a legal top-level
    // name containing a dot would otherwise parse as a nested-field path
    def ref(c: String) = col(s"`${c.replace("`", "``")}`")
    def distinctAgg(c: String): Column = {
      if (!approx) count_distinct(ref(c))
      else {
        // exact count_distinct normalizes -0.0 to 0.0 (Spark's
        // NormalizeFloatingNumbers); the hash path must match, or a
        // float column holding both zeros would answer 2 where the
        // exact mode answers 1 — adding +0.0 collapses signed zero and
        // is the identity elsewhere (NaN stays NaN, one rendering)
        val v = df.schema(c).dataType match {
          case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
            ref(c) + lit(0.0)
          case _ => ref(c)
        }
        round(call_function("kmv_distinct",
          conv(substring(md5(v.cast("string")), 1, 15), 16, 10).cast("long"),
          lit(kmvK))).cast("long")
      }
    }
    val aggs = Seq(count(lit(1)).as("__total")) ++
      targets.zipWithIndex.flatMap { case (c, j) =>
        Seq(count(ref(c)).as(s"__n_$j"),
          distinctAgg(c).as(s"__d_$j"),
          min(ref(c)).cast("string").as(s"__mn_$j"),
          max(ref(c)).cast("string").as(s"__mx_$j"))
      }
    val entries = array(targets.zipWithIndex.map { case (c, j) =>
      struct(lit(c).as("column"),
        (col("__total") - col(s"__n_$j")).as("n_nulls"),
        col(s"__d_$j").as("n_distinct"),
        col(s"__mn_$j").as("min"), col(s"__mx_$j").as("max"))
    }: _*)
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__total").as("n_rows"), explode(entries).as("p"))
      .select(col("p.column").as("column"), col("n_rows"), col("p.n_nulls"),
        col("p.n_distinct"), col("p.min"), col("p.max"))
  }

  /** Deterministic train/val/test split assignment: adds a `split` column
    * placing each row in exactly one named fraction — disjoint,
    * exhaustive, and stable (a row's split never changes as the corpus
    * grows, because membership depends only on its id). Order matters:
    * fractions stack as cumulative [[hashUniform]] thresholds. Prefer
    * binary-exact fractions (0.75/0.125/0.125) when an external system
    * must reproduce the thresholds bit-for-bit.
    *
    * Pure codegen'd CASE chain at the scan — no shuffle, no RNG, and no
    * train/test leakage on reprocessing (the eval rows stay eval rows).
    */
  def assignSplit(df: DataFrame, idCol: String, fractions: Seq[(String, Double)],
                  salt: String = "split"): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    require(fractions.forall(_._2 > 0.0), "fractions must be positive")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val u = hashUniform(col(idCol), salt)
    val chain =
      if (fractions.size == 1) lit(fractions.head._1)
      else {
        // thresholds for all but the last fraction; the last is `otherwise`
        val cum = fractions.init.scanLeft(0.0)(_ + _._2).tail
        val first = when(u < cum.head, lit(fractions.head._1))
        fractions.tail.init.zip(cum.tail)
          .foldLeft(first) { case (acc, ((name, _), c)) => acc.when(u < c, lit(name)) }
          .otherwise(lit(fractions.last._1))
      }
    // a null id must NOT fall through the CASE into the last fraction
    // (which would quietly contaminate the eval split) — it gets a null
    // split the caller can see and handle
    df.withColumn("split", when(u.isNull, lit(null: String)).otherwise(chain))
  }

  /** Domain-mixture down-sampling: keep each domain's expected token count
    * at `budgetPerDomain * weight(domain)` by accepting each document with
    * probability `min(1, budget * w / domainTokens)`, decided by the
    * deterministic [[hashUniform]] key.
    *
    * This is the standard "data mixture" step when assembling a training
    * corpus from heterogeneous sources (web/books/code/...) with target
    * proportions. Plan shape at scale: one partial-aggregated pass to get
    * per-domain token totals (|domains| rows — always tiny relative to the
    * corpus), broadcast-joined back onto the corpus scan; bodies never
    * shuffle and the driver holds nothing.
    */
  def mixture(df: DataFrame, idCol: String, domainCol: String, tokenCol: String,
              budgetPerDomain: Double, weights: Map[String, Double] = Map.empty,
              salt: String = "mix"): DataFrame = {
    require(budgetPerDomain > 0.0, "budgetPerDomain must be positive")
    val domTokens = df.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).cast("double").as("dom_tokens"))
    val w: Column =
      if (weights.isEmpty) lit(1.0)
      else {
        val entries = weights.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(lit(k), lit(v)) }
        coalesce(element_at(map(entries: _*), col(domainCol)), lit(1.0))
      }
    val rates = domTokens.select(col(domainCol).as("__dom"),
      least(lit(1.0), lit(budgetPerDomain) * w / col("dom_tokens")).as("accept_rate"))
    // null-safe equality: a null domain is a domain of its own (matching
    // packSequences' contract) — a plain equi-join would silently drop it
    df.join(broadcast(rates), col(domainCol) <=> col("__dom"))
      .where(hashUniform(col(idCol), salt) < col("accept_rate"))
      .drop("__dom", "accept_rate")
  }

  /** Greedy sequential sequence packing: within each group (domain, shard,
    * ...), walk documents in `orderCol` order and assign consecutive bin
    * ids, closing a bin when adding the next document would exceed
    * `budget` tokens. A document larger than `budget` gets a bin of its
    * own. Returns `(groupCol, orderCol, tokenCol, bin)`.
    *
    * This is how pre-tokenized documents are packed into fixed-length
    * training sequences. Packing is inherently sequential per group, so
    * the scalable cut is the secondary-sort pattern: hash-partition by
    * group, sort `(group, order)` within partitions, then a single
    * mapPartitions pass with O(1) state per partition. One shuffle of
    * (group, order, token) triples — document BODIES are not in the
    * shuffle — and no driver-side state. For a group too large for one
    * task's time budget, pre-split it by a range of `orderCol` into
    * composite group keys (each segment packs independently; at most one
    * under-filled bin per seam).
    *
    * Rows with a null order or token value are dropped (they cannot be
    * placed deterministically); a null group is a valid group of its own.
    */
  def packSequences(df: DataFrame, groupCol: String, orderCol: String,
                    tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    // the output carries all three names (plus `bin`), so they must be
    // distinct — and a repeated name would otherwise surface as an
    // AMBIGUOUS_REFERENCE from the internal select, not as the caller's
    // mistake
    require(Seq(groupCol, orderCol, tokenCol).distinct.size == 3,
      s"packSequences needs three DISTINCT columns, got " +
        s"group=$groupCol, order=$orderCol, token=$tokenCol")
    val spark = df.sparkSession
    import spark.implicits._
    val packed = df
      .where(col(orderCol).isNotNull && col(tokenCol).isNotNull)
      .select(col(groupCol).cast("string"), col(orderCol).cast("long"),
        col(tokenCol).cast("long"))
      .repartition(col(groupCol))
      .sortWithinPartitions(col(groupCol), col(orderCol))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // groups are clustered by the sort; state resets on group change.
        // `started` is the no-previous-group sentinel — a null GROUP is a
        // valid group and must not re-trigger the reset on every row
        var started = false
        var group: String = null
        var running = 0L
        var bin = 0L
        it.map { case (g, ord, tok) =>
          if (!started || g != group) { started = true; group = g; running = tok; bin = 0L }
          else if (running + tok > budget) { bin += 1; running = tok }
          else { running += tok }
          (g, ord, tok, bin)
        }
      }
    packed.toDF(groupCol, orderCol, tokenCol, "bin")
  }

  /** Sliding word-window chunking: split `textCol` on single spaces and
    * emit windows of `chunkSize` tokens every `stride` tokens (overlap =
    * `chunkSize - stride`). Returns `(idCol, start, chunk)` with 1-based
    * `start`. Documents shorter than `chunkSize` yield one (short) chunk.
    * COVERAGE IS TOTAL: when `(nTokens - chunkSize)` is not a stride
    * multiple, one extra window anchored at the document end is emitted,
    * so the tail tokens always appear in some chunk (with more than the
    * usual overlap) — for the RAG/training use case a never-indexed tail
    * is silent data loss.
    *
    * The standard context-window preparation step (RAG indexing, long-doc
    * training). Pure generator expressions — split/sequence/slice all
    * codegen'd, rows explode map-side with no shuffle; output size is
    * input tokens × (chunkSize / stride), decided per-row.
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val lastStart = greatest(lit(1), size(col("__ws")) - lit(chunkSize - 1))
    df.where(col(textCol).isNotNull)
      .withColumn("__ws", split(col(textCol), " "))
      .select(col(idCol),
        explode(array_distinct(concat(
          sequence(lit(1), lastStart, lit(stride)), array(lastStart)))).as("start"),
        col("__ws"))
      .select(col(idCol), col("start").cast("long").as("start"),
        array_join(slice(col("__ws"), col("start"), lit(chunkSize)), " ").as("chunk"))
  }

  /** Exact duplicated-span statistics (the substring-level dedup signal
    * from Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): for each document, how many of its `windowTokens`-token
    * windows (taken every `stride` positions) occur more than once in the
    * corpus — in another document or repeated within the same one.
    * Returns `(idCol, n_windows, n_dup_windows, dup_frac)`; documents
    * shorter than `windowTokens` have no windows and are omitted.
    *
    * Pipelines filter or trim on `dup_frac` where document-level MinHash
    * misses partial overlap (shared boilerplate, quoted passages, licence
    * blocks). Exact substring detection inherently touches every token
    * position; the plan keeps the per-position payload to
    * `(docId, 60-bit hash)` — window STRINGS never shuffle, and the
    * 16-byte fingerprint row is what makes the exchange affordable
    * (moving md5 hex strings instead measured 3.4× slower at 33M
    * windows). A 60-bit fingerprint collides at ~5e-4 probability over
    * 33M distinct windows — the standard fingerprinting trade, and the
    * DuckDB oracle applies the identical hash so the gate stays exact.
    * One hash-partitioned exchange for the corpus-wide occurrence count,
    * one for the per-doc rollup. At extreme corpus sizes raise
    * `hashSampleMod`: CONTENT-DEFINED window sampling (keep a window iff
    * its own hash ≡ 0 mod m) selects the SAME windows in every occurrence
    * of a span — positional striding cannot do this, since two
    * occurrences at different offsets never share strided positions — so
    * shuffle volume drops ~m× while a duplicated span covering w windows
    * is missed only with probability (1 - 1/m)^w, and `dup_frac` stays an
    * unbiased estimate over the sampled windows. Under sampling (m > 1) a
    * document whose windows are ALL sampled away has no rows in the
    * output — callers distinguishing "no duplicated spans" from "not
    * measured" should left-join and treat missing as unmeasured.
    *
    * Every aggregation here has a map-side combiner and the one join is
    * AQE-skew-splittable — deliberately NO window function over `h`: a
    * `count(*) OVER (PARTITION BY h)` buffers each hash partition whole,
    * so one pathologically hot span (licence boilerplate repeated tens
    * of millions of times across a 100 TB corpus) would land in a single
    * task. Here the hot hash collapses map-side to one `(h, count)` row,
    * and the join's left side carries one row per (document, hash) —
    * occurrence multiplicity never concentrates in one task.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   windowTokens: Int, hashSampleMod: Int = 1): DataFrame = {
    require(windowTokens > 1 && hashSampleMod > 0)
    // idempotent registration of the word_window_hashes kernel — the same
    // pattern Dedup.jaccardRefine uses for its kernel call
    graft.Graft.register(df.sparkSession)
    val toks = TextAnalysis.wsTokens(col(textCol))
    val allWins = df
      .select(col(idCol).as("__id"), toks.as("__ws"))
      .where(size(col("__ws")) >= windowTokens)
      .select(col("__id"), explode(
        call_function("word_window_hashes", col("__ws"), lit(windowTokens))).as("h"))
    val wins =
      if (hashSampleMod == 1) allWins
      else allWins.where(col("h") % hashSampleMod === 0)
    // per-(doc, hash) occurrence counts: a doc's windows sit in one input
    // row, so the partial agg collapses them before the exchange — the
    // shuffle carries distinct (docId, hash) pairs
    val perDoc = wins.groupBy(col("__id"), col("h"))
      .agg(count(lit(1)).as("__nw"))
    // corpus-wide counts per hash derived FROM perDoc (Σ per-doc counts),
    // so the corpus scan + first exchange are shared between both
    // consumers (ReuseExchange) instead of scanning the text twice; the
    // hottest span collapses to one row per (doc, hash) before this
    // aggregate, and only duplicated hashes survive to the join
    val dupHashes = perDoc.groupBy(col("h"))
      .agg(sum(col("__nw")).as("__c")).where(col("__c") > 1)
      .select(col("h"))
    perDoc.join(dupHashes.withColumn("__dup", lit(1)), Seq("h"), "left")
      .groupBy(col("__id"))
      .agg(sum(col("__nw")).as("n_windows"),
        sum(when(col("__dup").isNotNull, col("__nw")).otherwise(0L)).as("n_dup_windows"))
      .select(col("__id").as(idCol), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 4).as("dup_frac"))
  }

  /** Deterministic training order for epoch `epoch`: a pseudo-random but
    * fully reproducible permutation key (`epoch_order` column) derived
    * from the row id and epoch number. Sorting or range-partitioning by
    * it "shuffles" the corpus differently every epoch with zero RNG
    * state; feeding it to [[shardByTokens]] as the order column exports
    * reshuffled contiguous shards per epoch.
    */
  def epochOrder(df: DataFrame, idCol: String, epoch: Int): DataFrame =
    // full md5 hex, not the 32-bit uniform: a double from 32 bits collides
    // at birthday scale (~2^16 rows), and downstream consumers
    // (shardByTokens) need a collision-free total order for determinism
    df.withColumn("epoch_order",
      md5(concat(lit(s"epoch$epoch"), col(idCol).cast("string")).cast("binary")))

  /** Assign a global, deterministic, CONTIGUOUS shard id by token budget:
    * rows ordered by `orderCol` are cut into shards of ≈ `shardTokens`
    * tokens (a document straddling a boundary stays in the earlier
    * shard). Adds a `shard` column.
    *
    * This is the export layout training dataloaders want — shard k holds
    * strictly earlier documents than shard k+1, every shard lands near
    * the size target, and a re-run reproduces the identical assignment.
    * Plan: range-repartition on `orderCol`, one lightweight pass for
    * per-partition token sums (|partitions| rows to the driver, prefix
    * summed into global offsets), then a map-only pass stamps shards
    * from the running offset. Two scans of the shuffled layout; persist
    * the input first if a 100 TB run cannot afford the second scan.
    *
    * `orderCol` values must be UNIQUE (an id, or [[epochOrder]]'s
    * collision-free key): ties are ordered by shuffle fetch order, which
    * can differ between runs and would break the reproducibility claim.
    */
  def shardByTokens(df: DataFrame, orderCol: String, tokenCol: String,
                    shardTokens: Long): DataFrame = {
    require(shardTokens > 0, "shardTokens must be positive")
    val spark = df.sparkSession
    val ranged = df
      .where(col(orderCol).isNotNull && col(tokenCol).isNotNull)
      .repartitionByRange(col(orderCol))
      .sortWithinPartitions(col(orderCol))
    val tokIdx = ranged.schema.fieldIndex(tokenCol)
    // ONE RDD lineage for both passes: range boundaries are sampled per
    // evaluation (seeded by RDD id), so re-evaluating the DataFrame could
    // place rows differently than the offsets assume — and sharing the
    // lineage also lets the stamping job reuse the sort's shuffle files
    val rdd0 = ranged.rdd
    val perPart = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => s += r.get(tokIdx).asInstanceOf[Number].longValue())
      Iterator((pid, s))
    }.collect().toMap
    val offsets = (0 until rdd0.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + perPart.getOrElse(p, 0L))
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+ org.apache.spark.sql.types.StructField(
        "shard", org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var cum = offsets(pid)
      it.map { row =>
        val t = row.get(tokIdx).asInstanceOf[Number].longValue()
        val shard = cum / shardTokens // assigned by start offset
        cum += t
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ shard)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Write the corpus as token-budgeted contiguous shards
    * (`outDir/shard=K/...parquet`) plus a `MANIFEST.json` recording, per
    * shard, the document count, token sum, and `orderCol` range — what a
    * dataloader needs to plan epochs without listing files. Returns the
    * manifest as a DataFrame-shaped summary (one row per shard). The
    * manifest file is underscore-prefixed so parquet readers skip it,
    * like `_SUCCESS`.
    *
    * `mode` defaults to `ErrorIfExists`: a shard export is usually a
    * one-shot publish, and silently clobbering an existing data
    * directory is the wrong default. Pass `SaveMode.Overwrite`
    * explicitly to replace a previous export — the whole `outDir` is
    * then deleted first (Spark's overwrite semantics), manifest
    * included.
    */
  def writeShards(df: DataFrame, orderCol: String, tokenCol: String,
                  shardTokens: Long, outDir: String,
                  mode: org.apache.spark.sql.SaveMode =
                    org.apache.spark.sql.SaveMode.ErrorIfExists): DataFrame = {
    val spark = df.sparkSession
    val sharded = shardByTokens(df, orderCol, tokenCol, shardTokens)
    sharded.write.mode(mode).partitionBy("shard").parquet(outDir)
    // partition-column readback infers int — normalize to long
    val manifest = spark.read.parquet(outDir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol).cast("long")).as("n_tokens"),
        min(col(orderCol)).as("first_order"), max(col(orderCol)).as("last_order"))
      .orderBy("shard")
    val rows = manifest.collect() // one row per shard — bounded by design
    // numeric order bounds stay JSON numbers (a string "100" < "20"
    // lexicographically — poison for range logic); other types quote
    def jval(v: Any): String = v match {
      case n: java.lang.Number => n.toString
      case other => graft.JsonText.str(String.valueOf(other))
    }
    val json = rows.map { r =>
      s"""{"shard": ${r.getLong(0)}, "n_docs": ${r.getLong(1)}, "n_tokens": ${r.getLong(2)},
         | "first_order": ${jval(r.get(3))},
         | "last_order": ${jval(r.get(4))}}""".stripMargin.replaceAll("\n", "")
    }.mkString("[", ",\n ", "]")
    val path = new org.apache.hadoop.fs.Path(outDir, "_MANIFEST.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    manifest
  }

  /** Exact SQL `ntile(n) OVER (PARTITION BY groupCol ORDER BY orderCols)`
    * without `WindowExec`'s one-task-per-group constraint — the
    * CCNet-style head/middle/tail bucketing primitive (Wenzek et al.
    * 2020 bucket Common Crawl by per-language perplexity terciles; a
    * plain window would put an entire language in ONE task, the exact
    * straggler the dup-spans de-windowing removed).
    *
    * Plan (the [[shardByTokens]] shape): range-repartition on
    * `(groupCol, orderCols)` — groups may SPAN partitions, that is the
    * point — then one lightweight pass for per-(partition, group) row
    * counts (|partitions × groups| driver rows, prefix-summed into
    * per-group offsets), then a map-only pass stamps each row's global
    * rank within its group and converts rank → tile with the SQL-standard
    * ntile split (first `total % n` tiles get the extra row). Two scans
    * of the shuffled layout, one shared lineage so the offsets cannot
    * desync from the stamping pass.
    *
    * `orderCols` must reach a TOTAL order within each group (end with a
    * unique id): ties would be ordered by shuffle fetch order, which can
    * differ between runs and break determinism.
    *
    * Group cardinality is guarded, not assumed: the per-(partition,
    * group) counter table collects to the driver only while it holds
    * ≤ `maxDriverOffsetEntries` rows (languages, sources — the common
    * case, two tiny jobs). Above that (domains, user ids — G up to 10⁷⁺)
    * the SAME offsets compute distributed: counters group by key for a
    * per-group prefix sum (one shuffle of tiny counter rows), hash back
    * to their source partition index, and zip with the sorted data —
    * nothing group-cardinality-sized ever reaches the driver or a
    * broadcast, and each stamping task holds only ITS partition's
    * groups (bounded by that partition's row count).
    */
  def ntileByGroup(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                   n: Int, outCol: String = "tile",
                   maxDriverOffsetEntries: Long = 100000L): DataFrame = {
    require(n > 0, "ntile needs a positive tile count")
    require(maxDriverOffsetEntries > 0, "maxDriverOffsetEntries must be positive")
    // the driver offset maps key on the collected row VALUE — sound only
    // for types whose JVM representation has value equality (a binary
    // column collects as Array[Byte] with identity equality: every row
    // would be its own group and the stamp lookups would miss)
    df.schema(groupCol).dataType match {
      case _: org.apache.spark.sql.types.BinaryType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType =>
        throw new IllegalArgumentException(
          s"ntileByGroup group column '$groupCol' has type " +
            s"${df.schema(groupCol).dataType.simpleString}: group keys must be " +
            "atomic (string/numeric/date) — cast or hash the column first")
      case _ => ()
    }
    val spark = df.sparkSession
    val sortCols = col(groupCol) +: orderCols
    val ranged = df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    val gIdx = ranged.schema.fieldIndex(groupCol)
    // ONE lineage for both passes (see shardByTokens: range boundaries
    // are sampled per evaluation, and the stamp job reuses the sort's
    // shuffle files)
    val rdd0 = ranged.rdd
    val nParts = rdd0.getNumPartitions
    // SQL ntile of global in-group rank `rank` over `t` rows:
    // tiles 1..r hold q+1 rows, the rest q
    def tileOf(rank: Long, t: Long): Int = {
      val q = t / n
      val r = t % n
      val tile =
        if (q == 0L) rank // fewer rows than tiles: tile = rank
        else if (rank <= r * (q + 1)) (rank - 1) / (q + 1) + 1
        else r + (rank - r * (q + 1) - 1) / q + 1
      tile.toInt
    }
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.IntegerType, nullable = false))
    // stamp one sorted partition given its groups' (start offset, total)
    def stamp(it: Iterator[org.apache.spark.sql.Row],
              offTot: Any => (Long, Long)): Iterator[org.apache.spark.sql.Row] = {
      val local = scala.collection.mutable.HashMap.empty[Any, Long]
      it.map { row =>
        val g = row.get(gIdx)
        val before = local.getOrElse(g, 0L)
        local.update(g, before + 1L)
        val (off, t) = offTot(g)
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ tileOf(off + before + 1L, t))
      }
    }
    val perPartRdd = rdd0.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
      it.foreach { r => val g = r.get(gIdx); m.update(g, m.getOrElse(g, 0L) + 1L) }
      m.iterator.map { case (g, c) => ((pid, g), c) }
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.track(perPartRdd) // releaseCaches reclaims it (counter rows only)
    val nEntries = perPartRdd.count() // ≤ partitions × groups counter rows

    val rdd = if (nEntries <= maxDriverOffsetEntries) {
      // small-G path: counters fit on the driver; prefix-sum there and
      // broadcast the offset maps (two tiny jobs, zero extra shuffles)
      val perPart = perPartRdd.collect()
      perPartRdd.unpersist(false)
      val counts = perPart.toMap
      val totals: Map[Any, Long] =
        perPart.groupBy(_._1._2).map { case (g, rows) => g -> rows.map(_._2).sum }
      val offsets: Map[(Int, Any), Long] = totals.keysIterator.flatMap { g =>
        var acc = 0L
        (0 until nParts).map { p =>
          val o = ((p, g), acc); acc += counts.getOrElse((p, g), 0L); o
        }
      }.toMap
      val bOffsets = spark.sparkContext.broadcast(offsets)
      val bTotals = spark.sparkContext.broadcast(totals)
      rdd0.mapPartitionsWithIndex { (pid, it) =>
        val off = bOffsets.value
        val tot = bTotals.value
        stamp(it, g => (off((pid, g)), tot(g)))
      }
    } else {
      // large-G path: the identical prefix sum, distributed. Counters
      // shuffle once by group (≤ nParts rows per group), each group
      // prefix-sums its partitions, and the (offset, total) entries hash
      // BACK to their source partition index to zip with the sorted
      // data — each stamping task reads only its own partition's groups.
      // The persisted counter RDD stays in the result's lineage (the
      // ContextCleaner unpersists it when the frame is released); it is
      // counter rows, not data rows, and MEMORY_AND_DISK spills.
      val offs: org.apache.spark.rdd.RDD[(Int, (Any, Long, Long))] = perPartRdd
        .map { case ((pid, g), c) => (g, (pid, c)) }
        .groupByKey()
        .flatMap { case (g, pcs) =>
          val sorted = pcs.toArray.sortBy(_._1)
          val total = sorted.iterator.map(_._2).sum
          var acc = 0L
          sorted.iterator.map { case (pid, c) =>
            val o = (pid, (g, acc, total)); acc += c; o
          }
        }
      val byPid = offs.partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nParts
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      rdd0.zipPartitions(byPid) { (rowIt, offIt) =>
        val m = scala.collection.mutable.HashMap.empty[Any, (Long, Long)]
        offIt.foreach { case (_, (g, off, t)) => m.update(g, (off, t)) }
        stamp(rowIt, m)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much likelier its hashed n-gram features are under
    * a TARGET corpus' distribution than under the raw corpus' own —
    * `w(doc) = Σ_gram ln p̂_target(bucket) − ln p̂_raw(bucket)` with
    * add-one smoothing over `buckets` hashed feature buckets (the
    * paper's hashed unigram+bigram default). Select high-quality
    * training data by taking the top weights (`orderBy(desc, id).limit`)
    * or thresholding — both deterministic given this deterministic
    * weight.
    *
    * Plan shape (100 TB): n-grams hash through the
    * [[graft.functions.TextOps.wordWindowHashes]] kernel (60-bit md5
    * values — no n-gram strings allocated, and external engines can
    * replay the arithmetic, so the weights are oracle-checkable). Each
    * side's gram stream is scanned ONCE: the raw side collapses map-side
    * into per-(doc, bucket) partial counts that are localCheckpointed
    * (they feed BOTH the raw bucket distribution and the scoring join —
    * without the checkpoint the explode would run twice, measured 1.8×
    * over linear at the 500k-doc decade); both bucket distributions are
    * ≤ `buckets` driver rows, so the log-ratio table builds driver-side
    * and broadcasts. Scoring shuffles only the checkpointed partials —
    * document bodies never shuffle.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 10000,
                  ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(ns.nonEmpty && ns.forall(_ >= 1), s"n-gram sizes must be >= 1: $ns")
    graft.Graft.register(raw.sparkSession)
    def gramBuckets(df: DataFrame, cols: Column*): DataFrame = {
      val toks = TextAnalysis.wsTokens(col(textCol))
      df.select(cols :+ explode(flatten(array(
          ns.map(n => call_function("word_window_hashes", toks, lit(n))): _*))).as("__h"): _*)
        .withColumn("__b", pmod(col("__h"), lit(buckets.toLong)))
        .drop("__h")
    }
    // target distribution: one scan, ≤ buckets driver rows
    val tCnt: Map[Long, Long] = gramBuckets(target)
      .groupBy("__b").agg(count(lit(1)).as("__tc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tTotal = tCnt.values.sum
    // raw side: ONE scan into per-(doc, bucket) partials, materialized —
    // they feed the raw distribution AND the scoring join. DISK_ONLY:
    // the partial frame is ~|distinct (doc, bucket)| rows — far smaller
    // than the gram stream but still corpus-sized, and the default
    // deserialized in-heap checkpoint OOMs where spilling is the point
    val rPairs = Dedup.track(gramBuckets(raw, col(idCol))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__n"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val rCnt: Map[Long, Long] = rPairs
      .groupBy("__b").agg(sum("__n").as("__rc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rTotal = rCnt.values.sum
    // driver-built log-ratio table over the observed buckets (≤ buckets
    // rows — only buckets some gram hit can ever join)
    val lr = {
      import raw.sparkSession.implicits._
      val tDen = tTotal + buckets.toDouble
      val rDen = rTotal + buckets.toDouble
      (tCnt.keySet ++ rCnt.keySet).toSeq.sorted
        .map(b => (b, math.log((tCnt.getOrElse(b, 0L) + 1.0) / tDen) -
                      math.log((rCnt.getOrElse(b, 0L) + 1.0) / rDen)))
        .toDF("__b", "__lr")
    }
    val scored = rPairs
      .join(broadcast(lr), "__b")
      .groupBy(col(idCol))
      .agg(sum(col("__n") * col("__lr")).as("dsir_weight"))
    // left join back so gram-less documents (empty/short text) score 0
    raw.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("dsir_weight"), lit(0.0)).as("dsir_weight"))
  }

  /** Corpus-level TF-IDF: the `k` highest-scoring tokens, where
    * `score(t) = totalTf(t) * ln(N / docFreq(t))`. Ties broken by token
    * for determinism. Whitespace tokenization on lowercased text.
    *
    * Two-stage aggregation keeps it partial-agg friendly: (doc, token)
    * counts combine map-side before the token-level rollup, so the shuffle
    * carries one row per distinct (doc, token), not one per token
    * occurrence. The final top-k is a TakeOrdered over |vocab| rows.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val n = df.count().toDouble
    // \s+ tokenization, matching dupSpanStats/Bpe — a single-space split
    // would leave tab/newline-joined junk tokens with spuriously high idf
    val tf = df
      .select(col(idCol).as("__id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("__id"), col("token")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("total_tf"), count(lit(1)).as("doc_f"))
      .select(col("token"),
        round(col("total_tf") * log(lit(n) / col("doc_f")), 4).as("tfidf"))
      .orderBy(col("tfidf").desc, col("token"))
      .limit(k)
  }

  /** Exact-substring dedup with REMOVAL — the second half of Lee et al.'s
    * ExactSubstr (arXiv:2107.06499): where [[dupSpanStats]] only measures,
    * this EXCISES every `windowTokens`-token span whose content occurs
    * earlier in the corpus (keep-first, like [[dropRepeatedParagraphs]]),
    * reassembling each document from its surviving tokens in original
    * order with single-space joins (whitespace-tokenized reassembly —
    * the paper operates on token streams too). Matching is
    * case-insensitive (the [[dupSpanStats]] hash), removal keeps the
    * original-case tokens. EVERY input document keeps a row: one whose
    * every token sits inside a duplicated span (and one with blank/null
    * text) answers `(id, "", n, n)` rather than vanishing — silent row
    * loss would break downstream joins on the id. Returns
    * `(idCol, textCol, n_tokens, n_removed)`.
    *
    * Scale shape: same linear skeleton as [[dupSpanStats]] — the
    * `word_window_hashes` kernel fingerprints windows (16-byte rows, no
    * window strings), the first-occurrence reduction is a partial
    * `min(struct(doc, pos))` aggregate (no window function — a hot
    * boilerplate span collapses map-side), and the marked ranges expand
    * to covered token positions that LEFT-ANTI join against the token
    * stream on (doc, position). Removal inherently touches every token
    * position, so the anti-join shuffle carries the token stream once —
    * the irreducible cost of a rewriting pass (the stats pass stays the
    * cheap screen; run removal on the docs the stats flagged). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     windowTokens: Int): DataFrame = {
    require(windowTokens > 1)
    graft.Graft.register(df.sparkSession)
    // null text = no tokens, NOT a null array (size(null) is -1)
    val toks = filter(split(trim(coalesce(col(textCol), lit(""))), "\\s+"), w => w =!= "")
    // honest cost note: the corpus tokenizes up to THREE times — the
    // window stream feeds both the first-occurrence aggregate and the
    // covered-position join probe (the partial agg sits before the
    // exchange, so ReuseExchange cannot unify them), plus the token
    // stream for reassembly. That is the price of a rewriting pass over
    // every position; callers at extreme scale can persist this
    // tokenized frame themselves before calling
    val docs = df.select(col(idCol).as("__id"), toks.as("__ts"))
    val wins = docs
      .where(size(col("__ts")) >= windowTokens)
      .select(col("__id"), posexplode(call_function("word_window_hashes",
        transform(col("__ts"), t => lower(t)), lit(windowTokens))).as(Seq("__pos", "__h")))
    val firsts = wins.groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"),
        count(lit(1)).as("__c"))
      .where(col("__c") > 1) // only duplicated spans can mark anything
      .select(col("__h"), col("__first"))
    // every NON-first occurrence of a duplicated window covers
    // [pos, pos + w) — expand to covered token positions per doc.
    // Round 15: the excision moved from the TOKEN stream to the POSITION
    // stream (guide §2.3 — shuffle metadata, not payloads). The previous
    // shape exploded every token into a row, anti-joined the covered
    // positions, and re-assembled with a collect_list groupBy — two full
    // shuffles of the whole token stream. Covered positions are the
    // small side (≤ windowTokens · duplicated-window count): collect
    // them per doc in ONE shuffle and excise array-side — kept positions
    // are array_except(0..n-1, covered) (order-preserving, duplicate
    // cover rows harmless, so the old position-level distinct shuffle is
    // gone too), tokens resolve by index in place. Token text now never
    // leaves its partition.
    val covered = wins.join(firsts, Seq("__h"))
      .where(struct(col("__id"), col("__pos")) =!= col("__first"))
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + lit(windowTokens - 1))).as("__i"))
    // a set, not a list: overlapping windows cover a position many times,
    // and the set stays at most n entries per document
    val coveredSets = covered.groupBy(col("__id"))
      .agg(collect_set(col("__i")).as("__cov"))
    val emptyInts = array().cast("array<int>")
    val keptPos = when(size(col("__ts")) < 1, emptyInts)
      .otherwise(array_except(sequence(lit(0), size(col("__ts")) - 1),
        coalesce(col("__cov"), emptyInts)))
    // EVERY input document keeps a row — a blank/null-text doc and a
    // fully-excised doc both answer (id, "", n, n-ish), never vanish
    // (silent row loss would break downstream joins on the doc id)
    docs.join(coveredSets, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        array_join(transform(keptPos,
          p => element_at(col("__ts"), p + 1)), " ").as(textCol),
        size(col("__ts")).as("n_tokens"),
        (size(col("__ts")) - size(keptPos)).cast("long").as("n_removed"))
  }

  /** Paragraph-level exact dedup with KEEP-FIRST semantics — the C4
    * line-dedup / FineWeb paragraph-dedup rule (Raffel et al. 2020 §2.2
    * discard repeated three-sentence spans; FineWeb keeps the first
    * occurrence in corpus order): split each document on `sep`, keep
    * every paragraph occurrence whose `(doc, position)` is the corpus-
    * minimal occurrence of that paragraph text, drop the rest, and
    * reassemble each document from its surviving paragraphs in original
    * order. Documents whose every paragraph was seen earlier vanish from
    * the output (a fully-boilerplate page contributes nothing). Returns
    * `(idCol, textCol, n_paras, n_dropped)`.
    *
    * This is the granularity document-level dedup (exact or MinHash)
    * cannot reach: two distinct pages sharing a navigation block or
    * licence footer keep their unique prose and lose the repeat.
    *
    * Scale shape: paragraphs group on their `md5` (128-bit — the
    * q_dedup_exact fingerprint, collision-negligible), and the
    * first-occurrence reduction is `min(struct(doc, pos))` — a partial
    * aggregate, so the corpus-hot paragraph (the licence block repeated
    * tens of millions of times at 100 TB) collapses map-side instead of
    * buffering in one task (deliberately NO row_number window over the
    * hash). The join back is hash-keyed and AQE-skew-splittable;
    * paragraph text travels that one exchange plus the per-document
    * reassembly — both unavoidable for a reassembling rewrite. */
  def dropRepeatedParagraphs(df: DataFrame, idCol: String, textCol: String,
                             sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("__id"),
        split(col(textCol), java.util.regex.Pattern.quote(sep)).as("__ps"))
      .select(col("__id"), size(col("__ps")).as("__n"),
        posexplode(col("__ps")).as(Seq("__pos", "__p")))
      .withColumn("__h", md5(col("__p"))) // hashed ONCE, key + join column
    // first occurrence per paragraph text: min over (doc, pos) collapses
    // map-side; only (hash, first) pairs cross the first exchange
    val firsts = paras
      .groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    paras
      .join(firsts, Seq("__h"))
      .where(struct(col("__id"), col("__pos")) === col("__first"))
      .groupBy(col("__id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("__pos"), col("__p")))),
          x => x("__p")), sep).as(textCol),
        first(col("__n")).as("n_paras"),
        (first(col("__n")) - count(lit(1))).as("n_dropped"))
      .withColumnRenamed("__id", idCol)
  }

  /** Stable contiguous 0-based row ids in the total order of
    * `orderCols` — the distributed alternative to
    * `row_number() OVER (ORDER BY …)`, whose partition-less window
    * moves the WHOLE dataset through one task. Here the data
    * range-partitions on the order columns, each partition counts
    * itself (|partitions| longs to the driver — never row data), and a
    * broadcast prefix sum stamps ids per partition; the sort's shuffle
    * is the only data movement. Training pipelines use this to give
    * every example a stable index (epoch shuffling, sharded resume,
    * example-level provenance).
    *
    * The ids are deterministic when `orderCols` is a total order (a
    * unique key); under ties the split of equal rows across the range
    * boundary is partitioner-dependent, so tied rows get SOME fixed
    * permutation of the tied id range — include a tiebreaker column
    * for full determinism. Both passes share one lineage (the
    * [[ntileByGroup]] / shardByTokens precedent: range boundaries are
    * sampled per evaluation, so the count job must reuse the same
    * materialized sort). The input must also be DETERMINISTIC under
    * recompute (a re-read source or re-fetched shuffle must yield the
    * same rows): the count job and the stamp job are separate actions,
    * and a source that returns different rows per evaluation would
    * desync the offsets from the stamped partitions. */
  def zipWithRowIds(df: DataFrame, orderCols: Seq[Column],
                    outCol: String = "row_id"): DataFrame = {
    require(orderCols.nonEmpty, "zipWithRowIds needs at least one order column")
    val spark = df.sparkSession
    val ranged = df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*)
    val rdd0 = ranged.rdd
    val counts: Map[Int, Long] = rdd0
      .mapPartitionsWithIndex { (pid, it) =>
        // count in a Long loop: Iterator.size returns Int and would
        // silently overflow (corrupting every later offset) past 2^31
        // rows in one partition
        var n = 0L
        while (it.hasNext) { it.next(); n += 1L }
        Iterator.single((pid, n))
      }
      .collect().toMap // |partitions| driver rows, bounded by construction
    val offsets: Array[Long] = (0 until rdd0.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L)).toArray
    val bOff = spark.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+ org.apache.spark.sql.types.StructField(
        outCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var next = bOff.value(pid)
      it.map { row =>
        val r = org.apache.spark.sql.Row.fromSeq(row.toSeq :+ next)
        next += 1L
        r
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Deterministic sample quantiles with NO prior value range: the
    * bounded-shuffle third leg of the quantile family —
    * [[statsQuantiles]]-style exact percentiles sort the whole column,
    * [[histogramQuantiles]] needs a known [lo, hi) up front; this keeps
    * the k rows whose `md5(salt ‖ key)` is SMALLEST (an order-invariant,
    * partition-invariant uniform sample — the bottom-k-by-hash trick
    * behind [[sampleByHash]]) via the k-capped `bottomk_agg` heap, then
    * reads quantiles off the sorted sample at rank `max(1, ⌈q·m⌉)`.
    * One aggregation whose state is ≤ k (hash, value) pairs at every
    * stage; rank error is the usual sampling bound O(√(q(1−q)/k))
    * w.h.p. — and the whole construction is DETERMINISTIC (no RNG), so
    * an external engine replays it bit-for-bit: the DuckDB oracle takes
    * the same k smallest md5 rows and the same rank convention.
    *
    * `keyCol` must be unique per row (it IS the sampling coin; a
    * repeated key biases the sample toward its duplicates). Null values
    * are ignored; an empty input answers NULL estimates.
    */
  def sampleQuantiles(df: DataFrame, keyCol: String, valueCol: String,
                      k: Int, qs: Seq[Double], salt: String = "sq"): DataFrame = {
    require(k >= 2, s"sample size k must be >= 2, got $k")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1], got $qs")
    val spark = df.sparkSession
    graft.Graft.register(spark)
    import spark.implicits._
    val h = md5(concat(lit(salt), col(keyCol).cast("string")))
    val sampled = df.where(col(valueCol).isNotNull)
      .agg(call_function("bottomk_agg",
        struct(h.as("h"), col(valueCol).cast("double").as("v")), lit(k)).as("__s"))
      .select(array_sort(expr("transform(__s, x -> x.v)")).as("__vals"),
        size(col("__s")).as("__m"))
    qs.toDF("q").crossJoin(sampled)
      .select(col("q"),
        when(col("__m") === 0, lit(null).cast("double"))
          .otherwise(element_at(col("__vals"),
            greatest(ceil(col("q") * col("__m")), lit(1L)).cast("int"))).as("est"))
  }

  /** One-pass histogram quantile sketch: fixed-width bins over a known
    * [lo, hi) range, then rank interpolation inside the covering bin.
    *
    * The scale shape exact quantiles can't give: `statsQuantiles`-style
    * exact percentiles sort the full column (a shuffle carrying every
    * value); this aggregates to `nBins` counters with map-side partial
    * combine, so the one exchange moves ≤ nBins·partitions rows no
    * matter how many values flow in — the classic fixed-bin histogram,
    * with error bounded by the bin width (hi-lo)/nBins. Bin counts,
    * cumulative ranks, and the interpolation are all deterministic
    * integer/IEEE arithmetic (no transcendentals), so the DuckDB oracle
    * reproduces the estimates bit-for-bit.
    *
    * Values below `lo` / at-or-above `hi` clamp to the edge bins (their
    * mass is counted, their position saturates — callers wanting strict
    * range semantics filter first). Rank convention: quantile q maps to
    * rank max(1, ceil(q·n)) over n non-null values; the estimate is
    * `lo + w·(bin + (rank - cumBefore)/binCount)` in the first bin
    * whose cumulative count reaches the rank. The per-bin resolution
    * runs in-plan (a window over the ≤ nBins histogram rows — bounded
    * by construction, never by data volume). Result: (q, est).
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, lo: Double, hi: Double,
                         nBins: Int, qs: Seq[Double]): DataFrame = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(nBins >= 1 && nBins <= (1 << 20), s"nBins must be in [1, 2^20], got $nBins")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must lie in (0, 1], got $qs")
    val spark = df.sparkSession
    import spark.implicits._
    val w = (hi - lo) / nBins
    val bin = least(greatest(floor((col(valueCol) - lo) / w), lit(0)), lit(nBins - 1))
      .cast("int")
    val bins = df.where(col(valueCol).isNotNull)
      .groupBy(bin.as("bin")).agg(count(lit(1)).as("cnt"))
    import org.apache.spark.sql.expressions.Window
    val cum = bins
      .withColumn("cum", sum("cnt").over(Window.orderBy("bin")))
      .withColumn("total", sum("cnt").over(Window.partitionBy()))
    qs.toDF("q").crossJoin(cum)
      .withColumn("rank", greatest(ceil(col("q") * col("total")), lit(1L)))
      .where(col("cum") >= col("rank"))
      .withColumn("est", lit(lo) + lit(w) *
        (col("bin") + (col("rank") - (col("cum") - col("cnt"))) / col("cnt")))
      .groupBy("q").agg(min_by(col("est"), col("bin")).as("est"))
  }
}
