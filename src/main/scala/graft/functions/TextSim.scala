package graft.functions

/** Pure (Spark-free) similarity kernels — unit/property tested off-Spark.
  *
  * These are the scoring primitives the pairwise kernel uses (reference
  * analogue: the ol_1/ol_2 channel scores of AMPI.scala:298-306 and the
  * inverse-flow co-occurrence weighting of SIG.scala:46-55).
  */
object TextSim {

  /** Classic Levenshtein distance, O(|a|·|b|) two-row DP — after EXACT
    * common-prefix/suffix trimming: any optimal edit script maps equal
    * ends to themselves, so lev(p·x·s, p·y·s) = lev(x, y) (the standard
    * trimming theorem — a value-preserving fast path, not an
    * approximation). Near-duplicate pairs (the candidate sets this kernel
    * scores) share most of their bytes, so the O(L²) DP typically runs
    * over a few-character middle instead of the full strings; identical
    * strings never enter the DP at all.
    */
  def levenshtein(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    var lo = 0
    val loMax = math.min(a.length, b.length)
    while (lo < loMax && a.charAt(lo) == b.charAt(lo)) lo += 1
    var ea = a.length; var eb = b.length
    while (ea > lo && eb > lo && a.charAt(ea - 1) == b.charAt(eb - 1)) { ea -= 1; eb -= 1 }
    val la = ea - lo; val lb = eb - lo
    if (la == 0) return lb
    if (lb == 0) return la
    var prev = Array.tabulate(lb + 1)(identity)
    var curr = new Array[Int](lb + 1)
    var i = 1
    while (i <= la) {
      curr(0) = i
      val ac = a.charAt(lo + i - 1)
      var j = 1
      while (j <= lb) {
        val cost = if (ac == b.charAt(lo + j - 1)) 0 else 1
        curr(j) = math.min(math.min(curr(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = curr; curr = t
      i += 1
    }
    prev(lb)
  }

  /** Levenshtein similarity in [0,1]: 1 - dist / max(len). Both empty => 1. */
  def levenshteinRatio(a: String, b: String): Double = {
    val m = math.max(a.length, b.length)
    if (m == 0) 1.0 else 1.0 - levenshtein(a, b).toDouble / m
  }

  /** Jaro similarity in [0,1] (standard definition). Two value-preserving
    * fast paths: equal strings short-circuit to 1.0 (matches = |a|, zero
    * transpositions ⇒ exactly 1.0), and the match scan starts at the
    * lowest still-unmatched b index instead of the raw window floor —
    * every skipped j is already matched and would fail the
    * `!bMatched(j)` test anyway, so the match set (and hence the value)
    * is bit-identical while near-identical strings scan O(L) instead of
    * O(L²/2).
    */
  def jaro(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    if (a == b) return 1.0
    val window = math.max(0, math.max(a.length, b.length) / 2 - 1)
    val aMatched = new Array[Boolean](a.length)
    val bMatched = new Array[Boolean](b.length)
    var matches = 0
    var firstUnmatched = 0 // all j < firstUnmatched have bMatched(j) = true
    var i = 0
    while (i < a.length) {
      val lo = math.max(firstUnmatched, i - window)
      val hi = math.min(b.length - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatched(j) && a.charAt(i) == b.charAt(j)) {
          aMatched(i) = true; bMatched(j) = true; matches += 1; found = true
          if (j == firstUnmatched) {
            firstUnmatched += 1
            while (firstUnmatched < b.length && bMatched(firstUnmatched)) firstUnmatched += 1
          }
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // transpositions: compare matched chars in order
    var t = 0
    var k = 0
    i = 0
    while (i < a.length) {
      if (aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / a.length + m / b.length + (m - t / 2) / m) / 3.0
  }

  /** Length of the LONGEST COMMON SUBSEQUENCE of two token sequences —
    * the in-order alignment count Q of the reference's merge-scan trip
    * alignment (AMPI.scala:240-279 classifies each trip as co-occurring Q,
    * afc-only P, or ap-only R; here Q = LCS, P = |a|−Q, R = |b|−Q).
    * O(|a|·|b|) two-row DP over interned-comparison strings.
    */
  def tokenLcs(a: Seq[String], b: Seq[String]): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    // exact common-prefix/suffix trimming (LCS(c·x, c·y) = 1 + LCS(x, y)
    // and its suffix mirror, applied inductively): same value, and the
    // O(|a|·|b|) DP runs only over the differing middle
    val aArr = a.toArray[AnyRef]
    val bArr = b.toArray[AnyRef]
    var lo = 0
    val loMax = math.min(aArr.length, bArr.length)
    while (lo < loMax && aArr(lo) == bArr(lo)) lo += 1
    var ea = aArr.length; var eb = bArr.length
    while (ea > lo && eb > lo && aArr(ea - 1) == bArr(eb - 1)) { ea -= 1; eb -= 1 }
    val trimmed = lo + (aArr.length - ea)
    val la = ea - lo; val lb = eb - lo
    if (la == 0 || lb == 0) return trimmed
    var prev = new Array[Int](lb + 1)
    var curr = new Array[Int](lb + 1)
    var i = 0
    while (i < la) {
      val ai = aArr(lo + i)
      var j = 1
      while (j <= lb) {
        curr(j) =
          if (ai == bArr(lo + j - 1)) prev(j - 1) + 1
          else math.max(prev(j), curr(j - 1))
        j += 1
      }
      val t = prev; prev = curr; curr = t
      java.util.Arrays.fill(curr, 0)
      i += 1
    }
    trimmed + prev(lb)
  }

  /** LCS length over 64-bit token ids — the hot-path twin of tokenLcs:
    * round 3 hash-encodes scoring tokens to longs before the pair shuffle
    * (PairScoring.featuresTokenized), so the O(|a|·|b|) DP compares primitives
    * instead of strings. Semantics identical to tokenLcs under the hashing
    * (collision prob ~2^-64 per token pair; property-tested equal in
    * PairScoringSpec).
    */
  def tokenLcsLong(a: Array[Long], b: Array[Long]): Int = {
    if (a.length == 0 || b.length == 0) return 0
    // same exact prefix/suffix trimming as tokenLcs (see there)
    var lo = 0
    val loMax = math.min(a.length, b.length)
    while (lo < loMax && a(lo) == b(lo)) lo += 1
    var ea = a.length; var eb = b.length
    while (ea > lo && eb > lo && a(ea - 1) == b(eb - 1)) { ea -= 1; eb -= 1 }
    val trimmed = lo + (a.length - ea)
    val la = ea - lo; val lb = eb - lo
    if (la == 0 || lb == 0) return trimmed
    var prev = new Array[Int](lb + 1)
    var curr = new Array[Int](lb + 1)
    var i = 0
    while (i < la) {
      val ai = a(lo + i)
      var j = 1
      while (j <= lb) {
        curr(j) =
          if (ai == b(lo + j - 1)) prev(j - 1) + 1
          else math.max(prev(j), curr(j - 1))
        j += 1
      }
      val t = prev; prev = curr; curr = t
      java.util.Arrays.fill(curr, 0)
      i += 1
    }
    trimmed + prev(lb)
  }

  /** Jaro-Winkler: boost by shared prefix (<=4 chars), scaling p=0.1.
    * NOTE: the prefix bonus is applied unconditionally (RapidFuzz-style);
    * classic Winkler (and DuckDB) gate it behind jaro > 0.7 — one reason JW
    * values are never oracle-compared across engines (the other: integer
    * vs fractional half-transposition counts).
    */
  def jaroWinkler(a: String, b: String, p: Double = 0.1, maxPrefix: Int = 4): Double = {
    val j = jaro(a, b)
    var l = 0
    val lim = math.min(maxPrefix, math.min(a.length, b.length))
    while (l < lim && a.charAt(l) == b.charAt(l)) l += 1
    j + l * p * (1.0 - j)
  }

  /** Weighted Jaccard over two token SETS with a per-token weight function
    * (weight = idf; reference analogue: inverse station-flow rank score,
    * SIG.scala:46-55). Both empty => 0.
    */
  def weightedJaccard(a: Set[String], b: Set[String], w: String => Double): Double = {
    if (a.isEmpty && b.isEmpty) return 0.0
    var inter = 0.0
    var union = 0.0
    (a ++ b).foreach { t =>
      val wt = w(t)
      union += wt
      if (a.contains(t) && b.contains(t)) inter += wt
    }
    if (union == 0.0) 0.0 else inter / union
  }

  /** k-shingles (contiguous k-grams) of a token sequence, joined by space.
    * Shorter-than-k sequences yield the whole sequence as one shingle.
    */
  def shingles(tokens: Seq[String], k: Int): Seq[String] = {
    if (tokens.isEmpty) Seq.empty
    else if (tokens.length <= k) Seq(tokens.mkString(" "))
    else tokens.sliding(k).map(_.mkString(" ")).toSeq
  }
}
