package graft.functions

/** Pure-Scala text hashing / sketching primitives for the dedup and
  * fingerprinting operators (LLM-data-pipeline surface): shingling,
  * MinHash signatures, banded LSH keys, SimHash, and winnowed rolling-hash
  * document fingerprints. Spark-free for unit testability; the query layer
  * lifts them as UDFs (arrays in, arrays out — one pass per document).
  *
  * The sketch primitives hash with the classic mod-prime universal family
  * `h ↦ (a·h + b) mod P` over a polynomial base hash, P = 2³¹−1
  * (Mersenne). Two reasons: (1) it is the textbook MinHash construction
  * (Broder's permutation family); (2) every intermediate fits a signed
  * 64-bit integer (a·h < 2⁶²), so the arithmetic is reproducible
  * bit-for-bit in ANSI SQL — the DuckDB oracle re-derives the sketches
  * independently rather than trusting the engine under test.
  */
object TextHash {

  /** 2³¹ − 1. Modulus for the SQL-reproducible sketch hashes. */
  val P: Long = 2147483647L

  /** Polynomial base hash mod [[P]] over UTF-16 code units
    * (Rabin–Karp; the +1 keeps NUL and prefix strings distinct).
    */
  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31L + s.charAt(i) + 1L) % P; i += 1 }
    h
  }

  /** Member `i` of the universal hash family applied to a base hash:
    * `(a_i·h + b_i) mod P`, a_i ∈ [1, P−1] so the map is a bijection.
    */
  def permHash(h: Long, i: Long): Long = {
    val a = 1L + ((i * 1103515245L + 12345L) % (P - 1L))
    val b = (i * 2654435761L + 1013904223L) % P
    (a * h + b) % P
  }

  /** Lower 64 bits of the MD5 digest under DuckDB's `md5_number_lower`
    * convention: digest bytes 8..15 interpreted little-endian. This is
    * the cross-engine common ground for deriving identical pseudo-random
    * constants (LSH hyperplane components) in Spark and the DuckDB
    * oracle — both sides hash the same string and get the same 64 bits.
    */
  def md5Lower64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var u = 0L
    var j = 0
    while (j < 8) { u |= (d(8 + j) & 0xffL) << (8 * j); j += 1 }
    u
  }

  /** A double in [−1, 1) derived from [[md5Lower64]] using only the top
    * 53 bits, so the integer→double conversion is exact (no rounding to
    * diverge between engines); every later op is correctly-rounded IEEE
    * arithmetic both here and in DuckDB.
    */
  def md5Unit(s: String): Double =
    ((md5Lower64(s) >>> 11).toDouble / 9007199254740992.0) * 2.0 - 1.0

  /** splitmix64 finaliser — the avalanche mix used throughout. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Whitespace word tokens. */
  def tokens(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  /** Word n-gram shingles (n=1 → the distinct word set). */
  def shingles(text: String, n: Int): Array[String] = {
    val t = tokens(text)
    if (n <= 1) t.distinct
    else if (t.length < n) Array(t.mkString(" "))
    else Array.tabulate(t.length - n + 1)(i => t.slice(i, i + n).mkString(" ")).distinct
  }

  /** The universal-family constants (a_i, b_i) for permutations
    * 0..n−1, cached per size: [[permHash]] re-derives them per call,
    * which in the signature kernel would mean 2 extra mul+mod per
    * (shingle, perm) pair — at 128 perms that is ~40% of the kernel.
    * Values are EXACTLY permHash's (the cache is a pure hoist).
    */
  @volatile private var permCache: (Int, Array[Long], Array[Long]) = (0, Array.empty, Array.empty)

  private def permConsts(n: Int): (Array[Long], Array[Long]) = {
    val c = permCache
    if (c._1 >= n) (c._2, c._3)
    else {
      val as = Array.tabulate(n)(i => 1L + ((i.toLong * 1103515245L + 12345L) % (P - 1L)))
      val bs = Array.tabulate(n)(i => (i.toLong * 2654435761L + 1013904223L) % P)
      permCache = (n, as, bs)
      (as, bs)
    }
  }

  /** MinHash signature: entry i = min over shingles of
    * [[permHash]](polyHash(shingle), i). Standard estimator: Jaccard ≈
    * fraction of equal signature positions.
    *
    * Loop shape: shingle-outer with hoisted (a, b) constant arrays —
    * each base hash loads once and streams through all perms; identical
    * values to the naive perm-outer [[permHash]] loop (property-locked
    * in TextHashSpec).
    */
  def minhashSignature(shingleSet: Array[String], numPerms: Int): Array[Long] = {
    if (shingleSet.isEmpty) return Array.fill(numPerms)(0L)
    val (as, bs) = permConsts(numPerms)
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var j = 0
    while (j < shingleSet.length) {
      val h = polyHash(shingleSet(j))
      var i = 0
      while (i < numPerms) {
        val v = (as(i) * h + bs(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** Estimated Jaccard similarity from two MinHash signatures. */
  def estimatedJaccard(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length,
      s"signatures must share numPerms: ${a.length} vs ${b.length}")
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    if (a.length == 0) 0.0 else eq.toDouble / a.length
  }

  /** LSH band keys: signature split into `bands` equal bands, each band
    * hashed to one long. Two documents sharing any band key are
    * candidates (standard banding scheme: P(candidate) = 1-(1-s^r)^b).
    */
  def bandKeys(signature: Array[Long], bands: Int): Array[Long] = {
    require(bands > 0 && signature.length % bands == 0,
      s"bands ($bands) must divide the signature length (${signature.length}) — " +
        "a remainder would silently drop tail entries, and bands beyond the " +
        "length degenerate every key to a constant (all-pairs candidate blowup)")
    val r = signature.length / bands
    Array.tabulate(bands) { b =>
      var h = (b + 1).toLong
      var i = b * r
      while (i < (b + 1) * r) {
        h = (h * 1000003L + signature(i)) % P
        i += 1
      }
      h
    }
  }

  /** 32-bit SimHash over word tokens (term-frequency weighted). Each bit
    * position draws its per-token ±1 from an independent member of the
    * universal family ([[permHash]] index 1000+b), not from the bits of a
    * single hash — and stays SQL-reproducible.
    */
  def simhash32(text: String): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    tokens(text).foreach(t => counts.update(t, counts.getOrElse(t, 0) + 1))
    val acc = new Array[Int](32)
    counts.foreach { case (tok, w) =>
      val h = polyHash(tok)
      var b = 0
      while (b < 32) {
        if (permHash(h, 1000L + b) % 2L == 1L) acc(b) += w else acc(b) -= w
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 32) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Winnowed document fingerprint (the MOSS scheme): rolling hashes of
    * character k-grams, then the minimum in every window of `w`
    * consecutive hashes (rightmost min on ties), deduplicated. Robust to
    * local edits — shared fingerprints locate shared passages.
    */
  def winnow(text: String, k: Int = 8, w: Int = 4): Array[Long] = {
    if (text.length < k) return Array(polyHash(text))
    val n = text.length - k + 1
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) { hashes(i) = polyHash(text.substring(i, i + k)); i += 1 }
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var win = 0
    val last = math.max(0, n - w)
    while (win <= last) {
      var minIdx = win
      var j = win
      val end = math.min(win + w, n)
      while (j < end) {
        if (hashes(j) <= hashes(minIdx)) minIdx = j
        j += 1
      }
      out += hashes(minIdx)
      win += 1
    }
    out.toArray
  }
}
