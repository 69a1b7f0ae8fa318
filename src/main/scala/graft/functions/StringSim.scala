package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** String-similarity kernels used by the scoring stage.
  *
  * Static methods (Scala object → static forwarders) so generated code
  * from the codegen'd expressions can call them directly:
  * `graft.functions.StringSim.givenSimU(a, b)`.
  *
  * Jaro-Winkler per the published definition (Winkler 1990): prefix
  * scale 0.1, max prefix 4, boost only when jaro > 0.7. Matches the
  * conventional implementation (same as Apache commons-text /
  * DuckDB `jaro_winkler_similarity` defaults).
  */
object StringSim {

  def jaro(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / l1 + m / l2 + (m - t / 2.0) / m) / 3.0
  }

  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    var p = 0
    val maxP = math.min(4, math.min(s1.length, s2.length))
    while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
    j + 0.1 * p * (1.0 - j)
  }

  /** Given-name similarity over normalized, space-separated,
    * lowercase token strings. Jaro-Winkler with an initial rule: a
    * single-letter token matching the other name's first letter scores
    * 0.92 (the reference merges "B Smith" with "Bob Smith",
    * /root/reference/test/fixtures/flow-output.jsonl:1).
    */
  def givenSim(a: String, b: String): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val base = jaroWinkler(a, b)
    val tb = if (b.indexOf(' ') >= 0) b.substring(0, b.indexOf(' ')) else b
    val fa = if (a.indexOf(' ') >= 0) a.substring(0, a.indexOf(' ')) else a
    val initial =
      (fa.length == 1 && tb.nonEmpty && fa.charAt(0) == tb.charAt(0)) ||
      (tb.length == 1 && fa.nonEmpty && tb.charAt(0) == fa.charAt(0))
    if (initial) math.max(base, 0.92) else base
  }

  /** Surname similarity with compound-name containment: if every token
    * of the shorter surname matches a token of the longer one (exactly,
    * by initial, or JW ≥ 0.9), score ≥ 0.95 ("Sentosa" vs
    * "Medina Sentosa" resolve in the fixture, flow-output.jsonl
    * entity 24).
    */
  def surnameSim(a: String, b: String): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val base = jaroWinkler(a, b)
    val ta = a.split(' ')
    val tb = b.split(' ')
    val (short, long) = if (ta.length <= tb.length) (ta, tb) else (tb, ta)
    val contained = short.forall { s =>
      long.exists { l =>
        s == l ||
        (s.length == 1 && l.nonEmpty && s.charAt(0) == l.charAt(0)) ||
        (l.length == 1 && s.nonEmpty && l.charAt(0) == s.charAt(0)) ||
        jaroWinkler(s, l) >= 0.9
      }
    }
    if (contained) math.max(base, 0.95) else base
  }

  def givenSimU(a: UTF8String, b: UTF8String): Double = givenSim(a.toString, b.toString)
  def surnameSimU(a: UTF8String, b: UTF8String): Double = surnameSim(a.toString, b.toString)

  /** MinHash-LSH band keys over a string's character `shingle`-grams:
    * computes bands×rows seeded xxhash64 minhashes in one pass and
    * collapses each band of `rows` consecutive minhashes to one
    * 64-bit key. Single kernel (vs composing ~bands×rows Catalyst
    * aggregates, whose generated code exceeds janino's 64 KB method
    * limit and kicks the whole stage out of codegen).
    */
  def minHashBands(s: UTF8String, shingle: Int, bands: Int, rows: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val k = bands * rows
    val mins = Array.fill(k)(Long.MaxValue)
    val n = str.length
    if (n >= shingle) {
      var i = 0
      while (i + shingle <= n) {
        // base hash of the shingle, then k cheap seeded remixes
        var base = 1125899906842597L
        var j = i
        while (j < i + shingle) { base = base * 31 + str.charAt(j); j += 1 }
        var h = base
        var f = 0
        while (f < k) {
          // splitmix64 step per function index — independent-ish hashes
          var z = h + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z = z ^ (z >>> 31)
          if (z < mins(f)) mins(f) = z
          h = z
          f += 1
        }
        i += 1
      }
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 1125899906842597L
      var r = 0
      while (r < rows) { acc = acc * 6364136223846793005L + mins(b * rows + r); r += 1 }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 64-bit SimHash over whitespace tokens: each distinct token is
    * hashed (splitmix64 of a 31-based char hash); per bit, tokens vote
    * +1/−1; the fingerprint sets bits with positive vote sums
    * (Charikar, STOC'02). Near-dup docs differ in few bits.
    */
  def simHash64(s: UTF8String): Long = {
    val str = s.toString
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[Long]()
    var i = 0
    val n = str.length
    while (i < n) {
      while (i < n && Character.isWhitespace(str.charAt(i))) i += 1
      var h = 1125899906842597L
      var any = false
      while (i < n && !Character.isWhitespace(str.charAt(i))) {
        h = h * 31 + Character.toLowerCase(str.charAt(i)); i += 1; any = true
      }
      if (any) {
        var z = h + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (seen.add(z)) {
          var b = 0
          while (b < 64) {
            if (((z >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Karp–Rabin-style rolling hash fingerprint of a string: the
    * minimum 64-bit rolling hash over all windows of `w` bytes
    * (winnowing-style document fingerprint; Schleimer et al.,
    * SIGMOD'03). Deterministic, cross-platform.
    */
  def rollingMinHash(s: UTF8String, w: Int): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0L
    if (n <= w) {
      var h = 1125899906842597L
      var i = 0
      while (i < n) { h = h * 31 + (bytes(i) & 0xff); i += 1 }
      return h
    }
    val B = 257L
    var pow = 1L
    var i = 0
    while (i < w - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * B + (bytes(i) & 0xff); i += 1 }
    var min = h
    i = w
    while (i < n) {
      h = (h - (bytes(i - w) & 0xff) * pow) * B + (bytes(i) & 0xff)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
