package graft.functions

import graft.SparkTestBase
import org.apache.spark.unsafe.types.UTF8String

/** Kernel-level properties of the text hashing paths, each checked against a
  * straightforward reference implementation — guards the optimized variants
  * (byte-path md5 windows, per-doc word-hash cache, O(1) rolling updates)
  * against semantic drift. */
class TextKernelsSpec extends SparkTestBase {

  private def md5Prefix(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val b = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    b.take(8).map(x => f"${x & 0xff}%02x").mkString
  }

  test("rollingFingerprint equals naive per-window md5 min (ASCII byte path)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaa",
      "short", // shorter than window
      "exactly sixteen!") // length == window
    for (t <- texts) {
      val expected =
        if (t.length < 16) md5Prefix(t)
        else (0 to t.length - 16).map(i => md5Prefix(t.substring(i, i + 16))).min
      val got = TextOps.rollingFingerprint(UTF8String.fromString(t), 16).toString
      assert(got == expected, s"text: $t")
    }
  }

  test("rollingFingerprint non-ASCII falls back to UTF-16 window semantics") {
    val t = "héllo wörld — ünicode text with accents"
    val expected = (0 to t.length - 16).map(i => md5Prefix(t.substring(i, i + 16))).min
    assert(TextOps.rollingFingerprint(UTF8String.fromString(t), 16).toString == expected)
  }

  test("rollingFingerprintFast: rolling update equals direct window hash") {
    // every window substring goes through the direct (initial-hash) path, so
    // min over them must equal the rolled fingerprint of the whole string
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and keeps going for a while",
      "abcdefghijklmnopqrstuvwxyz0123456789",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")
    for (t <- texts; w <- Seq(8, 16)) {
      val direct = (0 to t.length - w)
        .map(i => TextOps.rollingFingerprintFast(UTF8String.fromString(t.substring(i, i + w)), w).toString)
        .min
      val rolled = TextOps.rollingFingerprintFast(UTF8String.fromString(t), w).toString
      assert(rolled == direct, s"text: $t window: $w")
    }
  }

  test("rollingFingerprintFast is robust to edits away from the minimal window") {
    // winnowing property: appending text can only change the fingerprint by
    // introducing a smaller window — never by losing the current min's window
    val base = "the quick brown fox jumps over the lazy dog"
    val fpBase = TextOps.rollingFingerprintFast(UTF8String.fromString(base), 16).toString
    val fpMore = TextOps.rollingFingerprintFast(UTF8String.fromString(base + " suffix"), 16).toString
    assert(fpMore <= fpBase) // min over a superset of windows
  }

  test("simhash64 word-hash cache preserves per-occurrence weighting") {
    // reference: md5 per OCCURRENCE (the pre-cache semantics)
    def reference(text: String): Long = {
      val s = text.toLowerCase(java.util.Locale.ROOT)
      val counts = new Array[Int](64)
      for (w <- s.split("\\s+") if w.nonEmpty) {
        val h = java.lang.Long.parseUnsignedLong(md5Prefix(w), 16)
        for (b <- 0 until 64)
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      }
      (0 until 64).foldLeft(0L)((acc, b) => if (counts(b) > 0) acc | (1L << b) else acc)
    }
    val texts = Seq(
      "the cat and the dog and the cat again",
      "one two three",
      "repeat repeat repeat repeat distinct")
    for (t <- texts)
      assert(TextOps.simhash64(UTF8String.fromString(t)) == reference(t), s"text: $t")
  }

  test("minhash distinct-shingle skip is bit-identical to the naive multiset scan") {
    // independent reference: per-occurrence affine-min with the same fixed
    // constants as TextOps (LCG-seeded permutations, mix64-finalized
    // polyhash shingles) — guards the distinct-skip optimization
    def reference(text: String, k: Int, num: Int): Array[Long] = {
      def poly(s: String, from: Int, until: Int): Long = {
        var h = 1125899906842597L; var i = from
        while (i < until) { h = 31 * h + s.charAt(i); i += 1 }; h
      }
      def mix(z0: Long): Long = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      var state = 0x5deece66dL
      def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
      // TextOps draws a(i), b(i) alternately from one LCG stream
      val a = new Array[Long](num)
      val b = new Array[Long](num)
      for (i <- 0 until num) { a(i) = next() | 1L; b(i) = next() }
      val s = text.toLowerCase(java.util.Locale.ROOT)
      val sig = Array.fill(num)(Long.MaxValue)
      if (s.length >= k) {
        for (i <- 0 to s.length - k) {
          val h = mix(poly(s, i, i + k))
          for (j <- 0 until num) {
            val v = h * a(j) + b(j)
            if (v < sig(j)) sig(j) = v
          }
        }
      }
      sig
    }
    val texts = Seq(
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", // one distinct shingle
      "the the the the the the the quick quick quick brown fox",
      "abcabcabcabcabcabcabcabcabc unique tail here",
      "no repeats here at all 0123456789")
    for (t <- texts) {
      val want = reference(t, 5, 64)
      val got = TextOps.minhashSignature(UTF8String.fromString(t), 5, 64)
      assert((0 until 64).forall(i => got.getLong(i) == want(i)), t)
    }
  }

  // ------------------------------------------------ one shingle kernel

  private def utf(t: String) = UTF8String.fromString(t)
  private def lower(t: String) = t.toLowerCase(java.util.Locale.ROOT)

  /** The shingle kernels as they were before they shared one shingle
    * array, kept as references for texts of length >= k: `sorted_shingles`
    * filled a TreeSet, `jaccard_shingles` a boxed HashSet per text, and
    * `minhash_signature` skipped repeated shingles through a HashSet. A
    * window's shingle hash is `hash64` of the window. */
  private def refWindows(t: String, k: Int): Seq[Long] = {
    val s = lower(t)
    (0 to s.length - k).map(i => TextOps.hash64(s.substring(i, i + k)))
  }

  private def refSortedShingles(t: String, k: Int): Array[Long] = {
    val set = new java.util.TreeSet[java.lang.Long]()
    refWindows(t, k).foreach(h => set.add(h))
    set.toArray(new Array[java.lang.Long](0)).map(_.longValue)
  }

  private def refJaccardShingles(a: String, b: String, k: Int): Double = {
    def set(t: String) = { val s = new java.util.HashSet[Long](); refWindows(t, k).foreach(s.add); s }
    val (sa, sb) = (set(a), set(b))
    if (sa.isEmpty && sb.isEmpty) return 1.0
    var inter = 0
    sa.forEach(h => if (sb.contains(h)) inter += 1)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  private def refMinhash(t: String, k: Int, num: Int): Array[Long] = {
    var state = 0x5deece66dL
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    val ab = Array.fill(num) { val a = next() | 1L; (a, next()) }
    val sig = Array.fill(num)(Long.MaxValue)
    val seen = new java.util.HashSet[java.lang.Long]()
    for (h <- refWindows(t, k) if seen.add(h); j <- 0 until num) {
      val v = h * ab(j)._1 + ab(j)._2
      if (v < sig(j)) sig(j) = v
    }
    sig
  }

  /** Random texts: ASCII, mixed case, BMP non-ASCII (Latin-1, Greek,
    * Cyrillic, CJK) and heavy repetition of a short unit. */
  private def randomTexts(rnd: scala.util.Random, n: Int): Seq[String] = {
    val alphabets = IndexedSeq(
      ('a' to 'z') ++ Seq(' ', ' ', '.'),
      ('a' to 'z') ++ ('A' to 'Z') ++ Seq(' ', ','),
      ('\u00c0' to '\u00ff') ++ ('\u0391' to '\u03c9') ++ ('\u0410' to '\u044f') ++
        ('\u4e00' to '\u4e20') ++ Seq(' ', 'a', 'B'))
    Seq.fill(n) {
      val abc = alphabets(rnd.nextInt(alphabets.size))
      def chars(m: Int) = Seq.fill(m)(abc(rnd.nextInt(abc.size))).mkString
      if (rnd.nextInt(4) == 0) chars(1 + rnd.nextInt(4)) * (3 + rnd.nextInt(30))
      else chars(rnd.nextInt(120))
    }
  }

  test("one shingle kernel equals the set-based kernels on texts of length >= k") {
    val rnd = new scala.util.Random(13)
    val texts = randomTexts(rnd, 300)
    // near pairs share most shingles, so the Jaccard check sees values in (0, 1)
    val near = texts.map(t => t.patch(rnd.nextInt(t.length + 1), "xY\u00e9", rnd.nextInt(3)))
    var checked = 0
    for (k <- Seq(1, 3, 5, 9)) {
      def long(t: String) = lower(t).length >= k
      for (t <- texts if long(t)) {
        val sig = TextOps.minhashSignature(utf(t), k, 128).toLongArray()
        assert(sig.sameElements(refMinhash(t, k, 128)), s"minhash k=$k: $t")
        val sh = TextOps.sortedShingles(utf(t), k).toLongArray()
        assert(sh.sameElements(refSortedShingles(t, k)), s"sorted_shingles k=$k: $t")
        checked += 1
      }
      val pairs = texts.zip(near) ++ texts.zip(texts.tail)
      for ((a, b) <- pairs if long(a) && long(b)) {
        assert(TextOps.jaccardShingles(utf(a), utf(b), k) == refJaccardShingles(a, b, k),
          s"jaccard_shingles k=$k: $a | $b")
      }
    }
    assert(checked > 900, checked)
  }

  test("short-text rule: a non-empty text shorter than k is one shingle, the empty text none") {
    val k = 5
    def jac(a: String, b: String) = TextOps.jaccardShingles(utf(a), utf(b), k)
    def sh(t: String) = TextOps.sortedShingles(utf(t), k)
    def mh(t: String) = TextOps.minhashSignature(utf(t), k, 128).toLongArray().toSeq
    assert(jac("abc", "xyz") == 0.0)
    assert(jac("abc", "abc") == 1.0)
    assert(jac("abc", "") == 0.0)
    assert(jac("", "") == 1.0)
    assert(mh("abc") != mh("xyz"))
    assert(!mh("abc").forall(_ == Long.MaxValue) && !mh("xyz").forall(_ == Long.MaxValue))
    assert(mh("").forall(_ == Long.MaxValue))
    assert(sh("abc").toLongArray().toSeq == Seq(TextOps.hash64("abc")))
    assert(sh("ABC").toLongArray().toSeq == Seq(TextOps.hash64("abc"))) // lowercased first
    assert(sh("").numElements() == 0)
    // a short text's one shingle matches no k-window of a longer text; the
    // one shingle of a length-k text does
    assert(jac("abcd", "hello world abcd") == 0.0 && jac("abcde", "abcde fghij") > 0.0)
    val texts = Seq("abc", "xyz", "", "ABC", "abcd", "abcde", "abcdef", "hello world abcd",
      "\u00e9t\u00e9", "a") ++ randomTexts(new scala.util.Random(5), 40)
    for (a <- texts; b <- texts)
      assert(jac(a, b) == TextOps.jaccardSorted(sh(a), sh(b)), s"$a | $b")
  }

  test("a shingle size k < 1 is refused by every shingle kernel") {
    for (k <- Seq(0, -3)) {
      val errs = Seq(
        intercept[IllegalArgumentException](TextOps.sortedShingles(utf("hello world"), k)),
        intercept[IllegalArgumentException](TextOps.minhashSignature(utf("hello world"), k, 64)),
        intercept[IllegalArgumentException](
          TextOps.jaccardShingles(utf("hello world"), utf("completely different"), k)))
      errs.foreach(e => assert(e.getMessage.contains(s"k must be >= 1, got $k"), e.getMessage))
    }
    // the SQL path surfaces the same refusal instead of one shingle for all
    val e = intercept[Exception](graft.operators.Dedup.minhashPairs(
      spark.createDataFrame(Seq((1L, "hello world"), (2L, "completely different")))
        .toDF("id", "text"), "id", "text", shingleK = 0).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("k must be >= 1")), e)
    graft.operators.Dedup.releaseCaches()
  }

  test("a MinHash signature length num < 1 is refused") {
    for (num <- Seq(0, -1, 257)) {
      val e = intercept[IllegalArgumentException](TextOps.minhashSignature(utf("hello world"), 5, num))
      assert(e.getMessage.contains(s"num must be in [1, 256], got $num"), e.getMessage)
    }
  }

  test("fast fingerprint SQL function is registered") {
    val r = spark.sql(
      "SELECT rolling_fingerprint_fast('the quick brown fox jumps over it', 16) AS fp")
      .head().getString(0)
    assert(r.length == 16 && r.forall(c => "0123456789abcdef".contains(c)))
  }

  test("repetition signals: duplicate-line and top-token fractions") {
    def dup(s: String) = TextOps.dupLineFraction(UTF8String.fromString(s))
    def top(s: String) = TextOps.topTokenFraction(UTF8String.fromString(s))
    assert(dup("a\nb\nc") == 0.0)
    assert(dup("x\nx\nx\nx") == 0.75) // 4 lines, 1 distinct
    assert(dup("  x \nx\n\n  \ny") == 1.0 - 2.0 / 3.0) // trim + blank-skip
    assert(dup("") == 0.0 && dup("\n\n") == 0.0)
    assert(top("a b a c") == 0.5)
    assert(top("The the THE") == 1.0) // lowercased
    assert(top("") == 0.0 && top("   ") == 0.0)
    assert(top("one  two") == 0.5) // empty tokens from double spaces dropped
  }

  test("word_window_hashes equals the md5/conv expression pipeline, nulls as array_join") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(
      Tuple1(Seq("alpha", "beta", "gamma", "delta")),
      Tuple1(Seq("x")))).toDF("ws")
    val viaKernel = df.select(call_function("word_window_hashes", col("ws"), lit(2)).as("h"))
      .collect().map(_.getSeq[Long](0)).toSeq
    val viaExpr = df.where(size(col("ws")) >= 2).select(expr(
      """transform(sequence(1, size(ws) - 1),
        |  i -> cast(conv(substring(md5(cast(array_join(slice(ws, i, 2), ' ') as binary)), 1, 15), 16, 10) as bigint))""".stripMargin).as("h"))
      .collect().map(_.getSeq[Long](0)).toSeq
    assert(viaKernel.head == viaExpr.head)
    assert(viaKernel(1) == Seq.empty) // shorter than the window
    // null slots follow array_join semantics: skipped, no separator
    val withNull = spark.createDataFrame(Seq(
      Tuple1(Seq("a", null, "b")))).toDF("ws")
    val k = withNull.select(call_function("word_window_hashes", col("ws"), lit(2)).as("h"))
      .head().getSeq[Long](0)
    val e = withNull.select(expr(
      """transform(sequence(1, 2),
        |  i -> cast(conv(substring(md5(cast(array_join(slice(ws, i, 2), ' ') as binary)), 1, 15), 16, 10) as bigint))""".stripMargin).as("h"))
      .head().getSeq[Long](0)
    assert(k == e)
  }

  test("redact_pii masks emails, urls, and phone numbers") {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(Seq(Tuple1(
      "mail bob.smith+x@corp.example.org call 555-123-4567 see https://a.io/p?q=1 done"
    ))).toDF("text")
    val out = df.select(graft.operators.TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(out == "mail <EMAIL> call <PHONE> see <URL> done", out)
    // 10-digit runs without separators are NOT phones (no false redaction)
    val keep = df.sparkSession.createDataFrame(Seq(Tuple1("order 5551234567 qty 3"))).toDF("text")
    val kept = keep.select(graft.operators.TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(kept == "order 5551234567 qty 3", kept)
  }

  test("nfc/nfkc normalization: composition, compatibility folds, identity fast path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def nfc(s: String): String =
      Seq(s).toDF("t").select(call_function("nfc_normalize", col("t"))).head().getString(0)
    def nfkc(s: String): String =
      Seq(s).toDF("t").select(call_function("nfkc_normalize", col("t"))).head().getString(0)
    val decomposed = "Cafe\u0301"   // e + COMBINING ACUTE
    val precomposed = "Caf\u00e9"   // precomposed e-acute
    assert(decomposed.length === 5 && precomposed.length === 4)
    assert(nfc(decomposed) === precomposed)
    // already-normalized text is the identity (incl. plain ASCII)
    assert(nfc("plain ascii") === "plain ascii")
    assert(nfc(precomposed) === precomposed)
    // NFC preserves compatibility characters; NFKC folds them
    val ligature = "\ufb01le"       // fi-ligature + "le"
    assert(nfc(ligature) === ligature)
    assert(nfkc(ligature) === "file")
    assert(nfkc("\uff26\uff35\uff2c\uff2c") === "FULL") // fullwidth letters
    // null in, null out (nullIntolerant expression contract)
    assert(Seq[Option[String]](None).toDF("t")
      .select(call_function("nfc_normalize", col("t"))).head().isNullAt(0))
    // dedup consequence: the two spellings hash identically after NFC
    val spellings = Seq(decomposed, precomposed).toDF("t")
      .select(md5(call_function("nfc_normalize", col("t"))).as("h"))
      .distinct().count()
    assert(spellings === 1L)
  }
}
