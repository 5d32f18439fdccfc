package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("hashUniform is deterministic and in [0, 1)") {
    val u = docs.select(Corpus.hashUniform($"doc_id", "s").as("u"))
    val vals = u.collect().map(_.getDouble(0))
    assert(vals.forall(v => v >= 0.0 && v < 1.0))
    val again = docs.select(Corpus.hashUniform($"doc_id", "s").as("u"))
      .collect().map(_.getDouble(0))
    assert(vals.sameElements(again))
    // distinct salts decorrelate
    val other = docs.select(Corpus.hashUniform($"doc_id", "t").as("u"))
      .collect().map(_.getDouble(0))
    assert(!vals.sameElements(other))
  }

  test("sampleByHash is stable under repartitioning and near the target rate") {
    val a = Corpus.sampleByHash(docs, "doc_id", 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Corpus.sampleByHash(docs.repartition(7), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.3) < 0.15) // 50 docs at sf0.001 — loose bound
    // rate is monotone: a higher rate strictly contains a lower one
    val c = Corpus.sampleByHash(docs, "doc_id", 0.6).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(c))
  }

  test("sampleByHash stays a scan-level filter (no shuffle)") {
    val plan = Corpus.sampleByHash(docs, "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mixture keeps everything under a huge budget and respects weights") {
    val all = Corpus.mixture(docs, "doc_id", "source", "n_chars",
      budgetPerDomain = 1e12)
    assert(all.count() == docs.count())
    // same salt ⇒ membership at weight w is monotone in w
    val lo = Corpus.mixture(docs, "doc_id", "source", "n_chars", 500.0,
      weights = Map.empty).select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = Corpus.mixture(docs, "doc_id", "source", "n_chars", 500.0,
      weights = docs.select("source").distinct().collect()
        .map(r => r.getString(0) -> 3.0).toMap)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi) && hi.size > lo.size)
  }

  test("mixture broadcasts the per-domain rates") {
    val plan = Corpus.mixture(docs, "doc_id", "source", "n_chars", 500.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("hash_uniform SQL function is bit-identical to Corpus.hashUniform") {
    docs.createOrReplaceTempView("corpus_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, hash_uniform(doc_id, 's1') AS u FROM corpus_docs")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaApi = docs.select($"doc_id", Corpus.hashUniform($"doc_id", "s1").as("u"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaApi)
  }

  test("plan shapes: chunking explodes map-side, dup-spans shuffles twice, tfidf partial-aggs") {
    val chunkPlan = Corpus.chunkWindows(docs, "doc_id", "text", 10, 5)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), chunkPlan)
    // every moved row is a combiner-collapsed (doc,hash) or (hash,count)
    // pair and NOTHING buffers a whole hash partition: no window function
    // (a hot boilerplate span would land it in one task), just partial
    // aggregates and an AQE-splittable join
    val spanPlan = Corpus.dupSpanStats(docs, "doc_id", "text", 8)
      .queryExecution.executedPlan.toString
    assert(!spanPlan.contains("Window"), spanPlan)
    assert("Exchange".r.findAllIn(spanPlan).length <= 5, spanPlan)
    assert(spanPlan.contains("partial_count"), spanPlan)
    // the (doc, token) pre-aggregation combines map-side before the shuffle
    val tfidfPlan = Corpus.tfIdfTopTerms(docs, "doc_id", "text", 10)
      .queryExecution.executedPlan.toString
    assert(tfidfPlan.contains("partial_count"), tfidfPlan)
    // the final top-k is a TakeOrdered, not a global sort
    assert(tfidfPlan.contains("TakeOrderedAndProject"), tfidfPlan)
  }

  test("packSequences matches a single-threaded greedy reference") {
    val out = Corpus.packSequences(docs, "source", "doc_id", "n_chars", budget = 1500L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference: greedy walk per source in doc_id order
    val ref = docs.select($"source", $"doc_id", $"n_chars")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        var running = 0L; var bin = -1L
        rows.sortBy(_._2).map { case (_, id, tok) =>
          if (bin < 0 || running + tok > 1500L) { bin += 1; running = tok }
          else running += tok
          (src, id, tok, bin)
        }.toSeq
      }.toSet
    assert(out.toSet == ref)
    // invariant: no bin exceeds the budget unless it holds a single oversized doc
    out.groupBy(t => (t._1, t._4)).foreach { case (_, rows) =>
      assert(rows.map(_._3).sum <= 1500L || rows.length == 1)
    }
  }

  test("chunkWindows emits the expected strided windows") {
    val one = Seq((1L, "a b c d e f g"), (2L, "x y")).toDF("doc_id", "text")
    val out = Corpus.chunkWindows(one, "doc_id", "text", chunkSize = 4, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out == Set(
      (1L, 1L, "a b c d"), (1L, 3L, "c d e f"),
      // end-anchored window: token 'g' must appear in some chunk
      (1L, 4L, "d e f g"),
      // short doc: one window covering what exists
      (2L, 1L, "x y")))
    // total coverage: every token of every doc appears in >= 1 chunk
    val docsTokens = one.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").toSet).toMap
    val covered = out.groupBy(_._1).map { case (id, rows) =>
      id -> rows.flatMap(_._3.split(" ")).toSet }
    assert(covered == docsTokens)
    // every full-length chunk has exactly chunkSize tokens
    val big = Corpus.chunkWindows(docs, "doc_id", "text", 10, 5)
    assert(big.where(size(split($"chunk", " ")) > 10).count() == 0)
  }

  test("assignSplit is disjoint, exhaustive, and stable as the corpus grows") {
    val fr = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)
    val out = Corpus.assignSplit(docs, "doc_id", fr)
    val m = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet.subsetOf(Set("train", "val", "test")))
    assert(m.values.sum == docs.count()) // exhaustive: every row exactly once
    // stability: assignment on a SUBSET matches the full-corpus assignment
    // (membership is a function of the id alone)
    val full = out.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sub = Corpus.assignSplit(docs.where($"doc_id" % 2 === 0), "doc_id", fr)
      .select("doc_id", "split").collect()
    assert(sub.forall(r => full(r.getLong(0)) == r.getString(1)))
    // invalid fractions rejected
    intercept[IllegalArgumentException] {
      Corpus.assignSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("corpus build composes end-to-end as one lazy pipeline") {
    val bench = docs.where($"doc_id" % 17 === 0).select($"doc_id", $"text")
    val cleaned = TextAnalysis.qualityFilter(docs, "text")
    val deduped = Dedup.dropExactDuplicates(cleaned, "doc_id", "text")
    val contaminated = TextAnalysis.decontaminate(
      deduped, bench, "doc_id", "text", n = 4)
    val decont = deduped.join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
    val mixed = Corpus.mixture(decont, "doc_id", "source", "n_chars", 4000.0)
    val packed = Corpus.packSequences(mixed, "source", "doc_id", "n_chars", 2000L)
    // each stage only removes rows; packing conserves them
    val n0 = docs.count(); val n1 = cleaned.count(); val n2 = deduped.count()
    val n3 = decont.count(); val n4 = mixed.count()
    assert(n0 >= n1 && n1 >= n2 && n2 >= n3 && n3 >= n4 && n4 > 0)
    assert(packed.count() == n4)
    // every surviving doc is assigned a bin and no bin exceeds the budget
    // (single-doc bins excepted)
    packed.groupBy("source", "bin").agg(sum("n_chars").as("s"), count(lit(1)).as("n"))
      .collect().foreach { r =>
        assert(r.getLong(2) <= 2000L || r.getLong(3) == 1L)
      }
  }

  test("sampling and split assignment run unchanged on streams") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val stream = Corpus.assignSplit(
      Corpus.sampleByHash(ms.toDF().toDF("doc_id", "text"), "doc_id", 0.5),
      "doc_id", Seq("train" -> 0.75, "val" -> 0.25))
    val q = stream.writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      val batch = Seq.tabulate(40)(i => (i.toLong, s"doc $i"))
      ms.addData(batch: _*)
      q.processAllAvailable()
      val streamed = spark.table("corpus_stream")
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      val expected = Corpus.assignSplit(
        Corpus.sampleByHash(batch.toDF("doc_id", "text"), "doc_id", 0.5),
        "doc_id", Seq("train" -> 0.75, "val" -> 0.25))
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(streamed == expected && streamed.nonEmpty)
    } finally q.stop()
  }

  test("shardByTokens: contiguous, deterministic, near-budget shards") {
    val base = docs.withColumn("n_tok", length($"text").cast("long"))
    val sharded = Corpus.shardByTokens(base, "doc_id", "n_tok", shardTokens = 3000L)
      .select($"doc_id", $"n_tok", $"shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sharded.length == docs.count())
    // contiguity: shard k's docs all precede shard k+1's in doc_id order
    val byShard = sharded.groupBy(_._3).toSeq.sortBy(_._1)
    byShard.sliding(2).foreach {
      case Seq((_, a), (_, b)) => assert(a.map(_._1).max < b.map(_._1).min)
      case _ =>
    }
    // shard ids are dense from 0
    assert(byShard.map(_._1) == (0L until byShard.length.toLong))
    // every shard except the last lands within one document of the
    // budget: its span is one budget window, shifted by the tails of the
    // straddling docs on each side → sum ∈ (budget - maxDoc, budget + maxDoc)
    val maxDoc = sharded.map(_._2).max
    byShard.init.foreach { case (_, rows) =>
      val s = rows.map(_._2).sum
      assert(s > 3000L - maxDoc && s < 3000L + maxDoc)
    }
    // determinism across runs
    val again = Corpus.shardByTokens(base, "doc_id", "n_tok", 3000L)
      .select($"doc_id", $"shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == sharded.map(t => (t._1, t._3)).toSet)
  }

  test("ntileByGroup reproduces the SQL ntile window exactly, without its plan") {
    import org.apache.spark.sql.expressions.Window
    // groups of awkward sizes: uneven splits (10 = 4+3+3), a group
    // smaller than the tile count (2 rows, 3 tiles), a singleton, and
    // enough rows to span several range partitions
    val rows = (0 until 10).map(i => ("en", i.toLong, (i * 37 % 10).toDouble)) ++
      (0 until 2).map(i => ("fr", 100L + i, 1.0)) ++ // tied scores: id breaks
      Seq(("de", 200L, 0.0)) ++
      (0 until 101).map(i => ("es", 300L + i, (i % 7).toDouble))
    val df = spark.createDataFrame(rows).toDF("lang", "id", "score").repartition(8)
    val got = Corpus.ntileByGroup(df, "lang", Seq($"score".desc, $"id".asc), 3)
      .select($"lang", $"id", $"tile")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = df.withColumn("tile",
        ntile(3).over(Window.partitionBy($"lang").orderBy($"score".desc, $"id".asc)))
      .select($"lang", $"id", $"tile")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == want)
    // deterministic across runs and input partitioning
    val again = Corpus.ntileByGroup(df.repartition(3), "lang",
        Seq($"score".desc, $"id".asc), 3)
      .select($"lang", $"id", $"tile")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(again == got)
    // the point of the operator: no WindowExec in the plan
    val plan = Corpus.ntileByGroup(df, "lang", Seq($"score".desc, $"id".asc), 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("ntileByGroup large-G path: distributed offsets match the driver path") {
    // 100k distinct groups of 1-3 rows: the per-(partition, group)
    // counter table blows the driver guard, so the offsets must compute
    // via the distributed group-prefix-sum + zip path — and agree with
    // the small-G broadcast path bit for bit
    val rows = (0 until 200000).map { i =>
      (s"g${i % 100000}", i.toLong, (i * 131 % 997).toDouble)
    }
    val df = spark.createDataFrame(rows).toDF("grp", "id", "score").repartition(16)
    val viaDriver = Corpus.ntileByGroup(df, "grp", Seq($"score".desc, $"id".asc), 2,
        maxDriverOffsetEntries = Long.MaxValue)
      .select($"id", $"tile")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val distributed = Corpus.ntileByGroup(df, "grp", Seq($"score".desc, $"id".asc), 2,
        maxDriverOffsetEntries = 1000L)
      .select($"id", $"tile")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(distributed.size == 200000)
    assert(distributed == viaDriver)
  }

  test("dsirWeights rank target-like documents above disjoint-vocabulary ones") {
    val target = Seq(
      (1L, "the model trains on curated encyclopedia text"),
      (2L, "curated encyclopedia articles about science"),
      (3L, "science articles the model reads")).toDF("id", "text")
    val raw = Seq(
      (10L, "curated encyclopedia text about science"), // target-like
      (11L, "the model trains on articles"),            // target-like
      (12L, "zzz qqq xxx vvv kkk jjj"),                 // disjoint vocab
      (13L, ""),                                        // gram-less -> 0.0
      (14L, "qqq zzz vvv")).toDF("id", "text")
    val w = Corpus.dsirWeights(raw, target, "id", "text", buckets = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.size == 5)
    assert(w(13L) == 0.0)
    // every target-like doc outranks every disjoint-vocab doc
    assert(Seq(10L, 11L).map(w).min > Seq(12L, 14L).map(w).max, w)
    // deterministic
    val again = Corpus.dsirWeights(raw, target, "id", "text", buckets = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == w)
    intercept[IllegalArgumentException] {
      Corpus.dsirWeights(raw, target, "id", "text", buckets = 0)
    }
  }

  test("epochOrder: reproducible per-epoch permutations that differ across epochs") {
    val e1 = Corpus.epochOrder(docs, "doc_id", 1)
      .orderBy($"epoch_order").select("doc_id").collect().map(_.getLong(0)).toSeq
    val e1again = Corpus.epochOrder(docs, "doc_id", 1)
      .orderBy($"epoch_order").select("doc_id").collect().map(_.getLong(0)).toSeq
    val e2 = Corpus.epochOrder(docs, "doc_id", 2)
      .orderBy($"epoch_order").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(e1 == e1again)       // deterministic
    assert(e1 != e2)            // epochs differ
    assert(e1.toSet == e2.toSet) // both are permutations of the corpus
    // composes with shardByTokens: different epochs shard differently
    val s1 = Corpus.shardByTokens(Corpus.epochOrder(docs, "doc_id", 1)
      .withColumn("n_tok", length($"text").cast("long")), "epoch_order", "n_tok", 3000L)
      .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = Corpus.shardByTokens(Corpus.epochOrder(docs, "doc_id", 2)
      .withColumn("n_tok", length($"text").cast("long")), "epoch_order", "n_tok", 3000L)
      .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 != s2 && s1.keySet == s2.keySet)
  }

  test("writeShards: layout round-trips and the manifest matches the data") {
    // a subpath the writer creates itself: the default ErrorIfExists mode
    // refuses a pre-existing target
    val dir = java.nio.file.Files.createTempDirectory("corpus-shards").toString + "/out"
    val base = docs.withColumn("n_tok", length($"text").cast("long"))
    val manifest = Corpus.writeShards(base, "doc_id", "n_tok", 3000L, dir)
      .collect()
    // a second write to the same target must refuse, not clobber
    intercept[Exception] {
      Corpus.writeShards(base, "doc_id", "n_tok", 3000L, dir)
    }
    // ... unless overwrite is explicit
    Corpus.writeShards(base, "doc_id", "n_tok", 3000L, dir,
      org.apache.spark.sql.SaveMode.Overwrite)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    // manifest rows agree with an independent readback aggregation
    val check = back.groupBy($"shard".cast("long")).agg(
      count(lit(1)).as("n"), sum($"n_tok").as("t")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    manifest.foreach { r =>
      assert(check(r.getLong(0)) == ((r.getLong(1), r.getLong(2))))
    }
    // _MANIFEST.json is valid JSON with one entry per shard
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_MANIFEST.json")), "UTF-8")
    assert(txt.trim.startsWith("[") && txt.contains("\"n_tokens\""))
    assert(txt.split("\\{").length - 1 == manifest.length)
  }

  test("null handling: null ids drop from samples, null tokens drop from packing") {
    val withNulls = Seq[(java.lang.Long, String, java.lang.Long)](
      (1L, "a", 10L), (null, "b", 20L), (3L, "c", null), (4L, null, 40L))
      .toDF("doc_id", "source", "n_chars")
    // null id → null uniform → row dropped from the sample, not crashed
    assert(Corpus.sampleByHash(withNulls, "doc_id", 1.0).count() == 3)
    // null token rows cannot be packed; null group is a group of its own
    val packed = Corpus.packSequences(withNulls, "source", "doc_id", "n_chars", 100L)
      .collect()
    assert(packed.length == 2) // (1,a,10) and (4,null,40)
    assert(packed.exists(_.isNullAt(0)))
    // the null GROUP respects the budget too (the reset sentinel must not
    // re-fire on every null-group row)
    val nullGroup = Seq[(String, Long, Long)]((null, 1L, 60L), (null, 2L, 60L),
      (null, 3L, 60L)).toDF("source", "doc_id", "n_chars")
    val bins = Corpus.packSequences(nullGroup, "source", "doc_id", "n_chars", 100L)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(bins == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // null ids get a null split, never a silent seat in the last fraction
    val splits = Corpus.assignSplit(withNulls, "doc_id",
      Seq("train" -> 0.5, "test" -> 0.5)).select("doc_id", "split").collect()
    assert(splits.filter(_.isNullAt(0)).forall(_.isNullAt(1)))
    assert(splits.filterNot(_.isNullAt(0)).forall(!_.isNullAt(1)))
    // a null domain survives mixture (null-safe rate join)
    val mixedAll = Corpus.mixture(withNulls.where($"doc_id".isNotNull &&
      $"n_chars".isNotNull), "doc_id", "source", "n_chars", 1e12)
    assert(mixedAll.count() == 2 && mixedAll.where($"source".isNull).count() == 1)
    // null text yields no chunks and no dup-span windows, not a crash
    val nullText = Seq[(Long, String)]((1L, null), (2L, "x y z")).toDF("doc_id", "text")
    assert(Corpus.chunkWindows(nullText, "doc_id", "text", 2, 1).count() == 2)
    assert(Corpus.dupSpanStats(nullText, "doc_id", "text", 2).count() == 1)
  }

  test("dupSpanStats flags planted shared spans and omits short docs") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val toy = Seq(
      (1L, s"one two three four $shared"),
      (2L, s"$shared nine ten eleven twelve"),
      (3L, "totally unique words that appear nowhere else in this corpus"),
      (4L, "short doc")).toDF("doc_id", "text")
    val out = Corpus.dupSpanStats(toy, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // the 8-token shared span is exactly one duplicated window in each doc
    assert(out(1L)._1 >= 1 && out(2L)._1 >= 1)
    assert(out(3L) == ((0L, 0.0)))
    assert(!out.contains(4L)) // shorter than the window → no windows
    // content-defined sampling keeps the SAME windows in every occurrence
    // of a span, so detection is all-or-nothing across occurrences — even
    // though the two copies sit at different (misaligned) offsets
    val long = (1 to 20).map(i => s"s$i").mkString(" ")
    val toy2 = Seq((1L, s"$long x y z"), (2L, s"p q r $long")).toDF("doc_id", "text")
    val hits = Corpus.dupSpanStats(toy2, "doc_id", "text", 8, hashSampleMod = 2)
      .where($"n_dup_windows" > 0).count()
    assert(hits == 0 || hits == 2)
    // and the full (mod=1) run must flag both copies
    val full = Corpus.dupSpanStats(toy2, "doc_id", "text", 8)
      .where($"n_dup_windows" > 0).count()
    assert(full == 2)
  }

  test("tfIdfTopTerms scores a ubiquitous token at zero and ranks rare tokens") {
    val toy = Seq((1L, "apple apple zebra"), (2L, "apple banana"),
      (3L, "apple cherry")).toDF("doc_id", "text")
    val out = Corpus.tfIdfTopTerms(toy, "doc_id", "text", 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 'apple' appears in all 3 docs → idf = ln(1) = 0
    assert(out("apple") == 0.0)
    // singletons: tf 1 × ln(3)
    assert(math.abs(out("zebra") - math.log(3.0)) < 1e-3)
    assert(out("zebra") > out("apple"))
    // k truncation is honored with deterministic ties
    val k2 = Corpus.tfIdfTopTerms(toy, "doc_id", "text", 2).collect()
    assert(k2.length == 2)
  }

  test("dropRepeatedParagraphs keeps first occurrences and reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\n\nBOILER\n\nunique two"),
      (2L, "BOILER\n\nfresh text\n\nBOILER"),   // repeats within AND across docs
      (3L, "BOILER"),                            // fully boilerplate → vanishes
      (4L, "solo paragraph")
    ).toDF("doc_id", "text")
    val out = Corpus.dropRepeatedParagraphs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    // doc 1 holds the corpus-first BOILER → intact
    assert(out(1L) == (("unique one\n\nBOILER\n\nunique two", 3, 0L)))
    // doc 2 loses both copies, keeps its unique prose in original order
    assert(out(2L) == (("fresh text", 3, 2L)))
    // doc 3 contributed nothing new → absent entirely
    assert(!out.contains(3L))
    assert(out(4L) == (("solo paragraph", 1, 0L)))
    // scale guard: the first-occurrence reduction is a partial aggregate,
    // never a row_number window over the paragraph hash (one hot
    // boilerplate paragraph must not buffer in a single task)
    val plan = Corpus.dropRepeatedParagraphs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("removeDupSpans excises later occurrences of duplicated windows") {
    import spark.implicits._
    val span = "one two three four five six seven eight" // 8 tokens
    val docs = Seq(
      (1L, s"intro $span tail words here"),              // corpus-first: intact
      (2L, s"prefix text then $span suffix"),            // loses the span
      (3L, span),                                        // fully covered → empty row
      (4L, "short doc"),                                 // < window → intact
      (5L, "Case ONE TWO THREE FOUR FIVE SIX SEVEN EIGHT end"), // case-insensitive match
      (6L, null.asInstanceOf[String])                    // null text → (\"\", 0, 0), kept
    ).toDF("doc_id", "text")
    val out = Corpus.removeDupSpans(docs, "doc_id", "text", windowTokens = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out(1L) == ((s"intro $span tail words here", 12, 0L)))
    assert(out(2L) == (("prefix text then suffix", 12, 8L)))
    // every input doc keeps a row — fully-excised and blank alike
    assert(out(3L) == (("", 8, 8L)))
    assert(out(4L) == (("short doc", 2, 0L)))
    // hashing is case-insensitive, the surviving tokens keep their case
    assert(out(5L) == (("Case end", 10, 8L)))
    assert(out(6L) == (("", 0, 0L)))
    assert(out.size == 6)
    // scale guard: first-occurrence reduction stays a partial aggregate
    val plan = Corpus.removeDupSpans(docs, "doc_id", "text", 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("removeDupSpans: overlapping duplicate windows excise exactly the covered tokens") {
    import spark.implicits._
    val w = 3
    // repeats inside one document, a document that repeats another with
    // overlapping shifted windows, and a seeded corpus over a 4-word
    // vocabulary where most positions sit under several duplicate windows
    val rng = new scala.util.Random(17)
    val vocab = Seq("ab", "cd", "Ab", "ef")
    val seeded = (10L until 22L).map(id =>
      id -> Seq.fill(5 + rng.nextInt(12))(vocab(rng.nextInt(vocab.size))).mkString(" "))
    val corpus = Seq(
      1L -> "p q r p q r p q r",
      2L -> "a b c d e f g h",
      3L -> "x a b c d e f g h y",
      4L -> "b c d z b c d") ++ seeded
    // the documented rule in plain Scala: every non-first occurrence (by
    // (doc, position)) of a lower-cased window covers its w positions
    val toks = corpus.map { case (id, t) => id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }
    val occ = for ((id, ts) <- toks; p <- 0 to ts.length - w)
      yield (ts.slice(p, p + w).map(_.toLowerCase), id, p)
    val covered = occ.groupBy(_._1).values.filter(_.size > 1).flatMap { group =>
      val first = group.map(o => (o._2, o._3)).min
      group.filter(o => (o._2, o._3) != first).flatMap(o => (o._3 until o._3 + w).map(o._2 -> _))
    }.toSet
    val expected = toks.map { case (id, ts) =>
      val kept = ts.indices.filterNot(i => covered((id, i))).map(ts)
      id -> ((kept.mkString(" "), ts.length, (ts.length - kept.length).toLong))
    }.toMap
    val out = Corpus.removeDupSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getLong(3)))).toMap
    assert(out == expected)
    assert(out(1L) == (("p q r", 9, 6L)))
    assert(out(3L) == (("x y", 10, 8L)))
    assert(out(4L) == (("z", 7, 6L)))
    assert(expected.values.map(_._3).sum > 30) // the seeded docs overlap heavily
  }

  test("profile: single-pass per-column stats with type-correct min/max") {
    import spark.implicits._
    val df = Seq((1L, Some(10.0), Some("b")), (2L, Some(2.0), None),
      (3L, None: Option[Double], Some("a")), (3L, None: Option[Double], Some("a")))
      .toDF("id", "v", "s")
    val p = Corpus.profile(df).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), Option(r.getString(5))))).toMap
    assert(p("id") === ((4L, 0L, 3L, Some("1"), Some("3"))))
    // numeric comparison happens BEFORE the string render: 2.0 < 10.0
    // (a cast-first profile would claim min = "10.0" lexicographically)
    assert(p("v") === ((4L, 2L, 2L, Some("2.0"), Some("10.0"))))
    assert(p("s") === ((4L, 1L, 2L, Some("a"), Some("b"))))
    assert(Corpus.profile(df, Seq("id")).count() === 1L)
    // a legal top-level column name containing a dot profiles fine
    // (name-parsing via col() would chase a phantom nested field)
    val dotted = df.withColumnRenamed("v", "a.b")
    assert(Corpus.profile(dotted).collect()
      .map(_.getString(0)).toSet === Set("id", "a.b", "s"))
    // one scan: a single Aggregate chain, no self-joins or unions
    val plan = Corpus.profile(df).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Union"), plan)
  }

  test("profile approx: KMV n_distinct is exact under k and bounded above it") {
    import spark.implicits._
    // 17 distinct under k=1024: the sketch never fills, so the estimate
    // IS the exact count; everything else (rows/nulls/min/max) identical
    val small = (0 until 300).map(i => (i.toLong % 17, s"s${i % 5}")).toDF("a", "b")
    val exact = Corpus.profile(small).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = Corpus.profile(small, approx = true).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(approx === exact)
    // signed zero: exact count_distinct normalizes -0.0 to 0.0; the hash
    // path must agree (the +0.0 normalization), or this column answers 2
    val zeros = Seq(0.0, -0.0, 1.5).toDF("z")
    assert(Corpus.profile(zeros).head.getLong(3) == 2L)
    assert(Corpus.profile(zeros, approx = true).head.getLong(3) == 2L)
    // 40k distinct over k=1024: the estimate must land within 15% (the
    // theoretical sd is ~1/sqrt(k) ≈ 3%) — and the plan has no Expand,
    // the row amplifier Catalyst needs for multiple exact DISTINCTs
    val big = (0 until 40000).map(i => (i.toLong, i.toLong * 7)).toDF("x", "y")
    val est = Corpus.profile(big, approx = true).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(math.abs(est("x") - 40000.0) / 40000.0 < 0.15, s"estimate $est")
    val plan = Corpus.profile(big, approx = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    assert(Corpus.profile(big).queryExecution.executedPlan.toString
      .contains("Expand")) // the exact path does use one (2 distincts)
  }

  test("sampleQuantiles: exact when k covers the data, bounded and stable below it") {
    import spark.implicits._
    val n = 20000
    val rows = (0 until n).map(i => (i.toLong, ((i * 7919) % n).toDouble))
    val df = rows.toDF("id", "x").repartition(8)
    // k >= n: the "sample" is the whole dataset -> the exact rank statistic
    val exact = Corpus.sampleQuantiles(df, "id", "x", 32768, Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // values are the permuted 0..n-1, so rank r holds value r-1
    assert(exact(0.5) == math.ceil(0.5 * n) - 1)
    assert(exact(0.99) == math.ceil(0.99 * n) - 1)
    // k << n: within the sampling bound (k=4096 -> sd ~ 0.008 rank), and
    // DETERMINISTIC + partition-invariant: same answer on any layout
    val est = Corpus.sampleQuantiles(df, "id", "x", 4096, Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(est(0.5) / n - 0.5) < 0.05, est)
    assert(math.abs(est(0.9) / n - 0.9) < 0.05, est)
    val again = Corpus.sampleQuantiles(df.repartition(3), "id", "x", 4096, Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(again == est)
    // nulls ignored; empty input answers NULL
    val withNulls = rows.map { case (i, x) => (i, if (i % 2 == 0) Some(x) else None) }
      .toDF("id", "x")
    assert(Corpus.sampleQuantiles(withNulls, "id", "x", 32768, Seq(1.0))
      .head.getDouble(1) == rows.filter(_._1 % 2 == 0).map(_._2).max)
    assert(Corpus.sampleQuantiles(df.where(lit(false)), "id", "x", 64, Seq(0.5))
      .head.isNullAt(1))
    intercept[IllegalArgumentException] {
      Corpus.sampleQuantiles(df, "id", "x", 1, Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Corpus.sampleQuantiles(df, "id", "x", 64, Seq(1.5))
    }
  }

  test("diffSnapshots classifies added/removed/changed/unchanged, null-safely") {
    import spark.implicits._
    val a = Seq(
      (1L, Some("same"), Some("x")),
      (2L, Some("old"), Some("x")),
      (3L, Some("gone"), Some("x")),
      (4L, None: Option[String], Some("x")),  // null content, unchanged
      (5L, Some("v"), None: Option[String])   // second col null→value = changed
    ).toDF("id", "t", "u")
    val b = Seq(
      (1L, Some("same"), Some("x")),
      (2L, Some("new"), Some("x")),
      (4L, None: Option[String], Some("x")),
      (5L, Some("v"), Some("now")),
      (6L, Some("fresh"), Some("x"))
    ).toDF("id", "t", "u")
    val out = Corpus.diffSnapshots(a, b, "id", Seq("t", "u"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "changed", 6L -> "added"))
    // null vs empty-string content are DIFFERENT states (the to_json point)
    val n1 = Seq((1L, None: Option[String])).toDF("id", "t")
    val n2 = Seq((1L, Some(""))).toDF("id", "t")
    assert(Corpus.diffSnapshots(n1, n2, "id", Seq("t"))
      .as[(Long, String)].head()._2 === "changed")
    // bodies never reach the join: both join inputs are (id, md5)
    // projections, so the exchange moves 16-byte hashes, not documents
    val joinCols = Corpus.diffSnapshots(a, b, "id", Seq("t", "u"))
      .queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          (j.left.output ++ j.right.output).map(_.name)
      }
    assert(joinCols.nonEmpty &&
      joinCols.forall(cols => !cols.contains("t") && !cols.contains("u")),
      joinCols.toString)
    // MAP content refused: its to_json key order is layout-dependent
    val m = Seq((1L, Map("a" -> 1))).toDF("id", "m")
    val err = intercept[IllegalArgumentException] {
      Corpus.diffSnapshots(m, m, "id", Seq("m"))
    }
    assert(err.getMessage.contains("MAP"))
  }

  test("histogramQuantiles: within a bin width of exact, clamped, partition-invariant") {
    val rnd = new scala.util.Random(23)
    val vals = (1 to 20000).map(_ => rnd.nextDouble() * 1000.0)
    val sorted = vals.sorted
    def exact(q: Double): Double = sorted(math.max(1, math.ceil(q * vals.size).toInt) - 1)
    val binW = 1000.0 / 500
    for (parts <- Seq(1, 8)) {
      val got = Corpus.histogramQuantiles(
          vals.toDF("x").repartition(parts), "x", 0.0, 1000.0, 500,
          Seq(0.25, 0.5, 0.9, 0.99, 1.0))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      assert(got.size === 5)
      got.foreach { case (q, est) =>
        assert(math.abs(est - exact(q)) <= binW, s"q=$q est=$est exact=${exact(q)}")
      }
    }
    // determinism across partitionings (bin counts are partition-free)
    val a = Corpus.histogramQuantiles(vals.toDF("x").repartition(3), "x", 0.0, 1000.0, 500, Seq(0.5))
      .head().getDouble(1)
    val b = Corpus.histogramQuantiles(vals.toDF("x").repartition(11), "x", 0.0, 1000.0, 500, Seq(0.5))
      .head().getDouble(1)
    assert(a === b)
    // out-of-range values clamp into the edge bins: mass is never lost
    val clamped = Corpus.histogramQuantiles(
      Seq(-50.0, -50.0, -50.0, 500.0, 99999.0).toDF("x"), "x", 0.0, 1000.0, 10,
      Seq(0.5, 1.0)).collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(clamped(0.5) <= 100.0)   // rank 3 of 5 sits in the clamped low bin
    assert(clamped(1.0) > 900.0)    // the overflow value saturates into the top bin
    // nulls skipped, empty frame → empty result
    assert(Corpus.histogramQuantiles(
      Seq[Option[Double]](None).toDF("x"), "x", 0.0, 1.0, 4, Seq(0.5)).count() === 0)
    intercept[IllegalArgumentException] {
      Corpus.histogramQuantiles(vals.toDF("x"), "x", 5.0, 5.0, 10, Seq(0.5))
    }
    intercept[IllegalArgumentException] {
      Corpus.histogramQuantiles(vals.toDF("x"), "x", 0.0, 1.0, 10, Seq(0.0))
    }
  }

  test("zipWithRowIds: contiguous ids in order, partition-invariant, no data to driver") {
    val rows = scala.util.Random.shuffle((1 to 5000).toList).map(i => (i.toLong, s"v$i"))
    for (parts <- Seq(1, 7, 32)) {
      val df = rows.toDF("k", "v").repartition(parts)
      val got = Corpus.zipWithRowIds(df, Seq(col("k")))
        .select("k", "row_id").as[(Long, Long)].collect().sortBy(_._1)
      // id i goes to the i-th smallest key: k ranks 1..5000 → ids 0..4999
      assert(got.map(_._2).toSeq === (0L until 5000L), s"parts=$parts")
      assert(got.map(_._1).toSeq === (1L to 5000L))
    }
    // composite order: ties on the first column break on the second
    val comp = Seq(("b", 2L), ("a", 9L), ("a", 1L), ("b", 1L)).toDF("g", "k")
    val ids = Corpus.zipWithRowIds(comp, Seq(col("g"), col("k")))
      .select("g", "k", "row_id").as[(String, Long, Long)].collect().sortBy(_._3)
    assert(ids.toSeq === Seq(("a", 1L, 0L), ("a", 9L, 1L), ("b", 1L, 2L), ("b", 2L, 3L)))
    // empty frame, custom column name
    val empty = Corpus.zipWithRowIds(Seq.empty[(Long, String)].toDF("k", "v"),
      Seq(col("k")), outCol = "idx")
    assert(empty.columns.contains("idx") && empty.count() === 0)
    intercept[IllegalArgumentException] {
      Corpus.zipWithRowIds(comp, Seq.empty)
    }
  }

  test("histogramQuantiles: aligned integer bins reproduce the exact rank statistic") {
    // values 0..99 with w=1: every value owns a bin, so interpolation
    // lands exactly on the rank statistic's value + 1 (bin upper edge
    // at full rank coverage): q=0.37 -> rank 37 -> bin 36 -> est 37.0
    val df = (0 until 100).map(_.toDouble).toDF("x")
    val got = Corpus.histogramQuantiles(df, "x", 0.0, 100.0, 100, Seq(0.37, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got(0.37) === 37.0)
    assert(got(1.0) === 100.0)
  }
}
