package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the LLM-data-pipeline expressions: MinHash, SimHash,
  * Jaccard, cosine similarity, language ID, fingerprints. Same dual
  * eval/codegen dispatch as [[GeoOps]] (see [[GeoKernel]]).
  *
  * All hashing is seeded from fixed constants → deterministic across runs
  * and executors (required: these feed shuffle keys).
  */
object TextOps {

  // ----------------------------------------------------------- base hashing

  /** 64-bit polynomial rolling-friendly hash of a char range. */
  @inline private def polyHash(s: String, from: Int, until: Int): Long = {
    var h = 1125899906842597L // prime
    var i = from
    while (i < until) { h = 31 * h + s.charAt(i); i += 1 }
    h
  }

  /** Finalizer (splitmix64) so low-entropy polynomial hashes spread. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash64(s: String): Long = mix64(polyHash(s, 0, s.length))

  /** First 8 bytes of md5(utf8) as a big-endian long — the one hash that an
    * external SQL engine (the DuckDB oracle) can reproduce exactly via
    * `('0x' || substr(md5(s), 1, 16))::UBIGINT`. Used wherever the hash
    * value itself is part of the verified result (simhash, fingerprints). */
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Prefix64(s: String): Long = {
    val d = md5Digest.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    h
  }

  /** [[md5Prefix64]] over a byte range, writing the digest into `out`
    * (≥ 16 bytes) — the zero-allocation path for per-window hashing. */
  @inline private def md5Prefix64Bytes(bytes: Array[Byte], from: Int, len: Int,
                                       out: Array[Byte]): Long = {
    val d = md5Digest.get()
    d.reset()
    d.update(bytes, from, len)
    d.digest(out, 0, 16)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (out(i) & 0xffL); i += 1 }
    h
  }

  /** 60-bit md5-prefix fingerprints — identical values to
    * `CONV(SUBSTR(md5_hex(window), 1, 15), 16, 10)` over the
    * space-joined window string — for EVERY `window`-word sliding window
    * of `words`. One thread-local digest, per-word bytes extracted once:
    * no per-window string building, which is what made the equivalent
    * expression pipeline (transform + array_join + md5 + conv) allocation-
    * bound at tens of millions of windows. Used by Corpus.dupSpanStats;
    * the DuckDB oracle replays the same md5 arithmetic. */
  def wordWindowHashes(words: ArrayData, window: Int): ArrayData = {
    val n = words.numElements()
    if (window <= 0 || n < window)
      return new GenericArrayData(Array.emptyLongArray)
    // null slots mirror array_join semantics (skipped entirely, no
    // separator); isNullAt is the representation-safe check — an
    // UnsafeArrayData null slot can surface as a zero-length string
    // through getUTF8String
    val wb = new Array[Array[Byte]](n)
    var k = 0
    while (k < n) {
      wb(k) = if (words.isNullAt(k)) null else words.getUTF8String(k).getBytes
      k += 1
    }
    val d = md5Digest.get()
    val out = new Array[Byte](16)
    val res = new Array[Long](n - window + 1)
    val space = ' '.toByte
    var i = 0
    while (i < res.length) {
      d.reset()
      var emitted = 0
      var j = i
      while (j < i + window) {
        if (wb(j) != null) {
          if (emitted > 0) d.update(space)
          d.update(wb(j))
          emitted += 1
        }
        j += 1
      }
      d.digest(out, 0, 16)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (out(b) & 0xffL); b += 1 }
      res(i) = h >>> 4 // first 15 hex nibbles, matching CONV(...,16,10)
      i += 1
    }
    new GenericArrayData(res)
  }

  // --------------------------------------------------------------- MinHash

  /** Affine permutation parameters for minhash, derived from a fixed LCG. */
  private val MaxHashes = 256
  private val (hashA, hashB) = {
    val a = new Array[Long](MaxHashes)
    val b = new Array[Long](MaxHashes)
    var state = 0x5deece66dL
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    var i = 0
    while (i < MaxHashes) { a(i) = next() | 1L; b(i) = next(); i += 1 }
    (a, b)
  }

  /** The distinct char k-shingle hashes of a text, sorted ascending: the
    * one shingle set that [[minhashSignature]], [[sortedShingles]] and
    * [[jaccardShingles]] measure. The text is lowercased (`Locale.ROOT`)
    * and every window of k chars hashes to `mix64(polyHash(window))`. A
    * non-empty text shorter than k is one shingle, [[hash64]] of the
    * whole text (the single shingle a text of length k has), and an empty
    * text has none; the DuckDB oracle of the dedup gates shingles short
    * texts the same way (`ELSE [s]`). */
  private def shingles(text: UTF8String, k: Int): Array[Long] = {
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val hs = new Array[Long](if (s.isEmpty) 0 else math.max(1, s.length - k + 1))
    var i = 0
    while (i < hs.length) { hs(i) = mix64(polyHash(s, i, math.min(i + k, s.length))); i += 1 }
    java.util.Arrays.sort(hs)
    var n = math.min(1, hs.length) // in-place unique
    i = 1
    while (i < hs.length) {
      if (hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    if (n == hs.length) hs else java.util.Arrays.copyOf(hs, n)
  }

  /** MinHash signature over [[shingles]]: each of `num` permutations
    * takes a min over affine transforms of the distinct shingle hashes
    * (O(distinct·num) adds, no re-hash). A text without shingles (the
    * empty text) signs as all `Long.MaxValue`. */
  def minhashSignature(text: UTF8String, k: Int, num: Int): ArrayData = {
    require(num >= 1 && num <= MaxHashes,
      s"minhash_signature: num must be in [1, $MaxHashes], got $num")
    val sh = shingles(text, k)
    val sig = new Array[Long](num)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var j = 0
      while (j < num) {
        val v = sh(i) * hashA(j) + hashB(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** [[shingles]] as an array — computed once per document so pairwise
    * Jaccard refinement is a cheap merge instead of per-pair
    * re-shingling. */
  def sortedShingles(text: UTF8String, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(shingles(text, k))

  /** Per-band hash of a minhash signature (band b = rows [b·r, (b+1)·r),
    * r = len/bands): the LSH bucket keys, one long per band. Native kernel
    * for the same reason as [[sigMatchFraction]] — the transform/slice/hash
    * higher-order formulation evaluates interpreted per document. Any
    * deterministic hash works here (buckets are internal): polynomial mix
    * over the band's rows, finalized with splitmix64. */
  def minhashBandHashes(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    require(bands > 0 && n % bands == 0, s"bands $bands must divide signature length $n")
    val rows = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L
      var j = b * rows
      val end = j + rows
      while (j < end) { h = 31 * h + sig.getLong(j); j += 1 }
      out(b) = mix64(h)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Fraction of positions where two equal-length signatures agree — the
    * minhash Jaccard estimate. Native kernel (stays in codegen) because the
    * zip_with/aggregate higher-order-function formulation evaluates
    * interpreted with per-row array allocation, which dominated the
    * estimate-prune stage at 312k candidate pairs. */
  def sigMatchFraction(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"signature length mismatch: $n vs ${b.numElements()}")
    if (n == 0) return 0.0
    var i = 0
    var m = 0
    while (i < n) {
      // the declared input type is nullable (file sources force it on
      // read) but a null slot would silently read as 0L — fail loudly
      require(!a.isNullAt(i) && !b.isNullAt(i),
        s"sig_match_fraction: null signature element at position $i")
      if (a.getLong(i) == b.getLong(i)) m += 1
      i += 1
    }
    m.toDouble / n
  }

  /** First `n` signature positions truncated to 32 bits — the compact
    * estimate-prune prefix carried through the LSH band self-join. Bytes
    * per candidate row ARE the cost of an in-join prune at scale (every
    * enumerated collision reads both sides' arrays), and truncated
    * equality is still an unbiased minhash-agreement test up to a 2^-32
    * false match per position. */
  def sigPrefix(sig: ArrayData, n: Int): ArrayData = {
    val m = math.min(math.max(n, 0), sig.numElements())
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = sig.getLong(i).toInt; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[sigMatchFraction]] over int-truncated prefixes. */
  def sigMatchFractionInt(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"signature length mismatch: $n vs ${b.numElements()}")
    if (n == 0) return 0.0
    var i = 0
    var m = 0
    while (i < n) {
      if (a.getInt(i) == b.getInt(i)) m += 1
      i += 1
    }
    m.toDouble / n
  }

  /** |a ∩ b| of two sorted long arrays via linear merge (no allocation).
    * The declared element type is nullable (file-source reads), and a null
    * slot would read as 0L and fabricate matches: fail loudly instead. */
  private def sortedIntersection(a: ArrayData, b: ArrayData, nullMessage: String): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      require(!a.isNullAt(i) && !b.isNullAt(j), nullMessage)
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** Jaccard of two sorted distinct long arrays; two empty ones answer 1.0. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val union = a.numElements() + b.numElements()
    if (union == 0) return 1.0
    val inter = sortedIntersection(a, b, "jaccard_sorted: null shingle-hash element")
    inter.toDouble / (union - inter)
  }

  /** Exact CONTAINMENT |a ∩ b| / |a| of two sorted distinct hash sets —
    * the asymmetric near-dup measure (a short document pasted inside a
    * longer one scores 1.0 here while its Jaccard can be arbitrarily
    * small). Refinement step after the prefix-filter candidate join
    * ([[graft.operators.ContainmentJoin]]); an empty `a` answers 0.0
    * (nothing to contain). */
  def containmentSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    if (na == 0) 0.0
    else sortedIntersection(a, b, "containment_sorted: null token-hash element").toDouble / na
  }

  /** Exact Jaccard similarity of the two texts' [[shingles]] (refinement
    * step after LSH candidate generation). */
  def jaccardShingles(a: UTF8String, b: UTF8String, k: Int): Double =
    jaccardSorted(sortedShingles(a, k), sortedShingles(b, k))

  // ------------------------------------------------- Unicode normalization

  /** Unicode NFC (canonical composition) — the normalization pre-pass a
    * multilingual corpus needs before any hash-based dedup: `é` typed as
    * `e` + COMBINING ACUTE and `é` typed precomposed are the SAME text
    * but different bytes, so every md5/minhash kernel in this engine
    * would see distinct documents. Normalization is Unicode-stability-
    * guaranteed (a normalized string stays normalized in every later
    * Unicode version), so the JDK's implementation and DuckDB's
    * utf8proc agree byte-for-byte — the q_text_normalize gate is hash-
    * provable where locale-dependent casing would not be. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized is a cheap scan; most real text
    // is already NFC and skips the composition allocation entirely
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Unicode NFKC (compatibility composition): fullwidth forms, ligature
    * folds (`ﬁ` → `fi`), superscripts etc. collapse to their plain
    * equivalents — the aggressive variant training-corpus pipelines run
    * before tokenization. Spec-gated only: DuckDB exposes no NFKC, so
    * no oracle can replay it. */
  def nfkcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFKC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFKC))
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace-delimited lowercase word features
    * (occurrence-weighted). Word hash is [[md5Prefix64]] so the DuckDB
    * oracle can rebuild identical simhash values in SQL. */
  def simhash64(text: UTF8String): Long = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val counts = new Array[Int](64)
    // natural text repeats words heavily: one md5 per DISTINCT word, not per
    // occurrence (the md5-per-occurrence version cost an 80% bench regression)
    val wordHash = new java.util.HashMap[String, java.lang.Long]()
    var start = -1
    var i = 0
    def feed(from: Int, until: Int): Unit = {
      if (until > from) {
        val w = s.substring(from, until)
        var cached = wordHash.get(w)
        if (cached == null) { cached = md5Prefix64(w); wordHash.put(w, cached) }
        val h: Long = cached
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    while (i < s.length) {
      val ws = Character.isWhitespace(s.charAt(i))
      if (!ws && start < 0) start = i
      if (ws && start >= 0) { feed(start, i); start = -1 }
      i += 1
    }
    if (start >= 0) feed(start, s.length)
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  // ------------------------------------------------------------ fingerprint

  /** Winnowing-style rolling fingerprint: minimum 64-bit window hash over
    * all `window`-char shingles — robust to small edits at either end.
    * Window hash = [[md5Prefix64]], minimum taken UNSIGNED, emitted as a
    * 16-hex-char string: lexicographic order on fixed-width lowercase hex
    * equals unsigned numeric order, so the DuckDB oracle is
    * `list_aggregate([substr(md5(substring(s,i,w)),1,16) …], 'min')`. */
  def rollingFingerprint(text: UTF8String, window: Int): UTF8String = {
    val nChars = text.numChars()
    val bytes = text.getBytes // UTF8String already holds UTF-8
    if (bytes.length == nChars) {
      // ASCII fast path (byte windows ≡ char windows): digest straight from
      // the byte array into a reused buffer — zero per-window allocation.
      // MD5 per window is inherent to the oracle-reproducible variant; the
      // O(n) production kernel is rollingFingerprintFast below.
      val out = new Array[Byte](16)
      if (nChars < window)
        return UTF8String.fromString(f"${md5Prefix64Bytes(bytes, 0, bytes.length, out)}%016x")
      var min = -1L // unsigned max
      var i = 0
      val end = nChars - window
      while (i <= end) {
        val h = md5Prefix64Bytes(bytes, i, window, out)
        if (java.lang.Long.compareUnsigned(h, min) < 0) min = h
        i += 1
      }
      UTF8String.fromString(f"$min%016x")
    } else {
      // non-ASCII: windows are UTF-16 code units (matches String semantics)
      val s = text.toString
      if (s.length < window) return UTF8String.fromString(f"${md5Prefix64(s)}%016x")
      var min = -1L
      var i = 0
      val end = s.length - window
      while (i <= end) {
        val h = md5Prefix64(s.substring(i, i + window))
        if (java.lang.Long.compareUnsigned(h, min) < 0) min = h
        i += 1
      }
      UTF8String.fromString(f"$min%016x")
    }
  }

  /** Production-throughput winnowing fingerprint: true O(n) rolling
    * polynomial hash (O(1) per window shift) + splitmix64 finalizer, minimum
    * taken unsigned over all `window`-char shingles. Not reproducible by an
    * external SQL engine — verified by the self-consistency property
    * fp(s) == min over fp(every window substring) (TextAnalysisSpec);
    * the oracle-gated md5 variant above checks the same winnowing logic. */
  def rollingFingerprintFast(text: UTF8String, window: Int): UTF8String = {
    val s = text.toString
    if (s.length <= window)
      return UTF8String.fromString(f"${mix64(polyHash(s, 0, s.length))}%016x")
    var pow = 1L // 31^window
    var i = 0
    while (i < window) { pow *= 31L; i += 1 }
    // constant correction for the seeded polyHash under the rolling update:
    // h(i+1) = 31·h(i) + c(i+w) - (c(i) + 30·seed)·31^w  (mod 2^64)
    val seedAdj = 30L * 1125899906842597L
    var h = polyHash(s, 0, window)
    var min = mix64(h)
    i = 0
    val end = s.length - window - 1
    while (i <= end) {
      h = 31L * h + s.charAt(i + window) - (s.charAt(i) + seedAdj) * pow
      val m = mix64(h)
      if (java.lang.Long.compareUnsigned(m, min) < 0) min = m
      i += 1
    }
    UTF8String.fromString(f"$min%016x")
  }

  // ---------------------------------------------------------- language ID

  private val langStopwords: Array[(String, java.util.HashSet[String])] = {
    def set(ws: String*) = {
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }
    Array(
      "en" -> set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "are", "this", "not"),
      "de" -> set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "von", "auf", "dem", "den"),
      "fr" -> set("le", "la", "les", "et", "est", "pas", "une", "des", "dans", "pour", "que", "qui", "sur", "avec"),
      "es" -> set("el", "la", "los", "las", "y", "es", "no", "una", "en", "por", "para", "con", "del", "se"),
      "it" -> set("il", "la", "di", "e", "che", "non", "per", "una", "con", "del", "gli", "nel", "sono", "come"),
      "pt" -> set("o", "a", "os", "as", "de", "que", "não", "uma", "em", "por", "para", "com", "do", "da"),
      "id" -> set("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "dalam", "akan", "pada", "juga", "ke"),
      "nl" -> set("de", "het", "een", "en", "van", "is", "dat", "op", "te", "zijn", "met", "voor", "niet", "aan"))
  }

  /** Char-n-gram Naive Bayes language ID over 28 languages — the real
    * model behind `lang_id_nb` (see [[LangNb]]; the table is a JVM-wide
    * lazy val, so the codegen'd static call scores map-only with no
    * serialized state). */
  def langIdNb(text: UTF8String): UTF8String =
    UTF8String.fromString(LangNb.predict(text.toString))

  /** N-gram/stopword-heuristic language ID; "und" when nothing matches. */
  def langId(text: UTF8String): UTF8String = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val scores = new Array[Int](langStopwords.length)
    var start = -1
    var i = 0
    def feed(from: Int, until: Int): Unit = {
      if (until > from) {
        val w = s.substring(from, until)
        var l = 0
        while (l < langStopwords.length) {
          if (langStopwords(l)._2.contains(w)) scores(l) += 1
          l += 1
        }
      }
    }
    while (i < s.length) {
      val letter = Character.isLetter(s.charAt(i))
      if (letter && start < 0) start = i
      if (!letter && start >= 0) { feed(start, i); start = -1 }
      i += 1
    }
    if (start >= 0) feed(start, s.length)
    var best = -1
    var bestScore = 0
    var l = 0
    while (l < scores.length) {
      if (scores(l) > bestScore) { bestScore = scores(l); best = l }
      l += 1
    }
    UTF8String.fromString(if (best < 0) "und" else langStopwords(best)._1)
  }

  // ------------------------------------------------------ vector similarity

  /** Cosine similarity of two float vectors, accumulated in double.
    * (ANN + embedding-dedup kernel; matches DuckDB list_cosine_similarity
    * on double-cast lists to ~1e-15.) */
  def cosineSimilarity(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"vector length mismatch: $n vs ${b.numElements()}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Per-JVM cache of hyperplane weight matrices: rows = plane index
    * (0 until totalPlanes), cols = dimension. Weight (plane, dim) =
    * mix64-derived deterministic pseudo-random value in [-1, 1) — the same
    * formula on every executor, so query and corpus always agree on buckets.
    * Caching turns the per-row cost from 64·dim hash computations into a
    * plain dot product (the r2 bench showed the recomputation costing 2.3×
    * on the embedding-dedup path). */
  private val planeWeightCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planeWeights(totalPlanes: Int, dim: Int): Array[Array[Double]] =
    planeWeightCache.computeIfAbsent((totalPlanes, dim), { case (np, d) =>
      Array.tabulate(np, d) { (p, i) =>
        val h = mix64(p.toLong * 0x9e3779b97f4a7c15L + i)
        (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
    })

  /** Random-hyperplane LSH bucket: sign bits of `planes` fixed pseudo-random
    * hyperplane dot products. Same fixed seeds for every call → query and
    * corpus agree on buckets. */
  def hyperplaneBucket(v: ArrayData, planes: Int): Int = {
    require(planes <= 30, s"planes $planes > 30")
    val n = v.numElements()
    val weights = planeWeights(planes, n)
    var bucket = 0
    var p = 0
    while (p < planes) {
      val w = weights(p)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += w(i) * v.getFloat(i); i += 1 }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** `tables` independent hyperplane-LSH buckets in one pass over the vector
    * (multi-table LSH: a pair collides if ANY table agrees — recall
    * 1-(1-p^planes)^tables instead of p^planes). Plane seeds are disjoint
    * across tables; element t is table t's bucket. */
  def hyperplaneBuckets(v: ArrayData, planes: Int, tables: Int): ArrayData = {
    require(planes <= 30, s"planes $planes > 30")
    val n = v.numElements()
    val weights = planeWeights(planes * tables, n)
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0
      var p = 0
      while (p < planes) {
        val w = weights(t * planes + p)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += w(i) * v.getFloat(i); i += 1 }
        if (dot >= 0) bucket |= (1 << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  // -------------------------------------------------- repetition signals

  /** Fraction of non-blank (trimmed) lines that duplicate an earlier line
    * — the Gopher-style duplicate-line repetition signal. 0.0 for text
    * with no non-blank lines. Mirrors the SQL form
    * `1 - len(distinct(lines)) / len(lines)` over trimmed, non-empty
    * newline splits so the DuckDB oracle reproduces it exactly. */
  def dupLineFraction(text: UTF8String): Double = {
    val s = text.toString
    val seen = new java.util.HashSet[String]()
    var total = 0
    var from = 0
    while (from <= s.length) {
      val nl = s.indexOf('\n', from)
      val until = if (nl < 0) s.length else nl
      val line = s.substring(from, until).trim
      if (line.nonEmpty) { total += 1; seen.add(line) }
      from = until + 1
    }
    if (total == 0) 0.0 else 1.0 - seen.size.toDouble / total
  }

  /** Share of the single most frequent lowercased space-token in the
    * token count — the Gopher top-word repetition signal. 0.0 for
    * token-free text. Split = single-space with empties dropped, matching
    * `list_filter(string_split(lower(text), ' '), w -> w <> '')`. */
  def topTokenFraction(text: UTF8String): Double = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val counts = new java.util.HashMap[String, Int]()
    var total = 0
    var max = 0
    var from = 0
    while (from <= s.length) {
      val sp = s.indexOf(' ', from)
      val until = if (sp < 0) s.length else sp
      if (until > from) {
        val w = s.substring(from, until)
        total += 1
        val c = counts.merge(w, 1, Integer.sum)
        if (c > max) max = c
      }
      from = until + 1
    }
    if (total == 0) 0.0 else max.toDouble / total
  }
}
