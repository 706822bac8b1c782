package graft.functions

/** Deterministic hashing + sketching primitives for deduplication at scale:
  * stable 64-bit hashes, MinHash signatures with LSH banding, and SimHash.
  * All public-algorithm implementations (FNV-1a; Broder '97 MinHash;
  * Charikar '02 SimHash).
  */
object Hashing {

  /** FNV-1a 64-bit over UTF-8 bytes. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes("UTF-8")
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — cheap avalanche mix. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Seeded hash family h_i(x) = mix64(x ^ seed_i). */
  def seededHash(x: Long, seed: Int): Long = mix64(x ^ (seed * 0x9e3779b97f4a7c15L))

  /** MinHash signature over word-shingle hashes. numHashes independent
    * permutation approximations; empty input yields Long.MaxValue slots.
    */
  def minhashSignature(shingleSet: Iterable[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingleSet.foreach { s =>
      val base = fnv1a64(s)
      var i = 0
      while (i < numHashes) {
        val h = seededHash(base, i + 1)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  private def fnvContinue(h0: Long, bytes: Array[Byte]): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** MinHash signature straight from the token array — bit-identical to
    * `minhashSignature(shingles.toSet, n)` over space-joined word k-grams,
    * with zero shingle-string allocation: FNV-1a is byte-sequential, so the
    * k-gram hash is computed by continuing the hash across the tokens' UTF-8
    * bytes with a ' ' byte between them, and deduplication is skipped
    * outright because duplicate shingles cannot change a per-seed minimum.
    * This is the hot inner loop of MinHash+LSH dedup at corpus scale.
    */
  def minhashFromTokens(tokens: Array[String], k: Int, numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (tokens.isEmpty) return sig
    val tb = new Array[Array[Byte]](tokens.length)
    var t = 0
    while (t < tokens.length) { tb(t) = tokens(t).getBytes("UTF-8"); t += 1 }
    val kk = math.min(k, tokens.length)
    val nWindows = tokens.length - kk + 1
    var w = 0
    while (w < nWindows) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < kk) {
        if (j > 0) { h ^= ' '.toLong; h *= 0x100000001b3L }
        h = fnvContinue(h, tb(w + j))
        j += 1
      }
      var i = 0
      while (i < numHashes) {
        val s = seededHash(h, i + 1)
        if (s < sig(i)) sig(i) = s
        i += 1
      }
      w += 1
    }
    sig
  }

  /** SimHash-64 straight from the token array (bit-identical to
    * `simhash64(tokens)`, no intermediate collections).
    */
  def simhashFromTokens(tokens: Array[String]): Long = {
    val counts = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val h = fnv1a64(tokens(t))
      var b = 0
      while (b < 64) {
        counts(b) += (((h >>> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Estimated Jaccard from two signatures. */
  def minhashSimilarity(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length)
    if (a.length == 0) return 0.0
    var same = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) same += 1; i += 1 }
    same.toDouble / a.length
  }

  /** LSH band keys: hash of each band of `rowsPerBand` signature slots.
    * Two docs sharing any band key are near-dup candidates.
    */
  def lshBandKeys(sig: Array[Long], rowsPerBand: Int): Array[Long] = {
    val bands = sig.length / rowsPerBand
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var r = 0
      while (r < rowsPerBand) {
        h = mix64(h ^ sig(b * rowsPerBand + r))
        r += 1
      }
      keys(b) = h
      b += 1
    }
    keys
  }

  /** SimHash-64 over token hashes (unit weights). */
  def simhash64(tokens: Iterable[String]): Long = {
    val counts = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hammingDistance64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
