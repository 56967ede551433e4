package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** JIT-compiled JVM kernels for the operators whose natural Catalyst
  * spelling is a nested higher-order function. Spark's HOFs
  * (`transform`/`aggregate`/`zip_with`) do NOT participate in
  * whole-stage codegen — every lambda application is an interpreted
  * expression eval with per-element allocation. For a k=128 MinHash
  * over ~400 shingles that is ~50k interpreted calls per document;
  * for a 12.5M-pair cosine join it is ~1.6B. These kernels replace
  * those inner loops with tight primitive-array code invoked once per
  * row (or per pair) through a Scala UDF: one JIT-compiled call, no
  * intermediate arrays. Measured on sf0.1: MinHash+LSH 470s → ~5s,
  * embedding-cosine pairs 151s → ~7s.
  *
  * Determinism: hashing uses Spark's own XXH64 (seeded, stable across
  * JVMs/partitionings), permutations are fixed-seed affine maps, and
  * [[cosine]] folds float→double products strictly left-to-right —
  * bitwise-identical to the sequential SQL the DuckDB oracle runs.
  */
object Kernels extends Serializable {

  /** Spark's XXH64 over the UTF-8 bytes of `s`. */
  def hash64(s: String, seed: Long): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  /** Fixed-seed LCG stream (MMIX constants) for reproducible
    * parameters — no global RNG, identical on every executor. */
  private def lcg(seed: Long): () => Long = {
    var s = seed
    () => { s = s * 6364136223846793005L + 1442695040888963407L; s }
  }

  /** k affine permutations pi_i(x) = a_i*x + b_i on Z/2^64 (a_i odd →
    * bijective), applied to one base hash per shingle. min over a
    * bijection of a uniform hash is a valid MinHash permutation
    * proxy; deriving all k from one base hash is the standard a*x+b
    * scheme. */
  private def affineParams(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val next = lcg(seed)
    val a = Array.fill(k)(next() | 1L)
    val b = Array.fill(k)(next())
    (a, b)
  }

  /** MinHash signature: k minima over affine permutations of the
    * shingles' XXH64 values. One pass over the shingles. */
  def minHashSignature(
      shingles: scala.collection.Seq[String],
      k: Int,
      seed: Long = 42L): Array[Long] = {
    val (pa, pb) = affineParams(k, seed)
    val sig = Array.fill(k)(Long.MaxValue)
    val it = shingles.iterator
    while (it.hasNext) {
      val h = hash64(it.next(), 42L)
      var i = 0
      while (i < k) {
        val v = pa(i) * h + pb(i)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** LSH band buckets: bucket b = XXH64-mix of rows [b*r, (b+1)*r) of
    * the signature. Output length = bands. */
  def bandBuckets(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = b.toLong ^ 0x9e3779b97f4a7c15L
      var r = 0
      while (r < rowsPerBand) {
        acc = XXH64.hashLong(sig(b * rowsPerBand + r), acc)
        r += 1
      }
      out(b) = acc
      b += 1
    }
    out
  }

  /** Signature + banding fused: shingles → band-bucket array. */
  def minHashBands(
      shingles: scala.collection.Seq[String],
      bands: Int,
      rowsPerBand: Int,
      seed: Long = 42L): Array[Long] =
    bandBuckets(minHashSignature(shingles, bands * rowsPerBand, seed), bands, rowsPerBand)

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Low 64 bits of MD5(s) assembled little-endian from digest bytes
    * 8..15 — bit-for-bit DuckDB's `md5_number_lower`, which is what
    * makes [[simHash64Md5]] fingerprints reproducible across engines
    * (the q37 oracle recomputes them in SQL). */
  def md5Lower64(s: String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v |= (d(8 + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** [[md5Lower64]] of `prefix ++ suffix`, taking the two pieces as
    * ALREADY-ENCODED UTF-8 bytes: MD5 over sequential `update`s is
    * bit-for-bit MD5 over the concatenation, and UTF-8 encoding of a
    * string concatenation is the concatenation of the encodings when
    * the split sits on a code-point boundary. Lets a caller hashing
    * `id ++ tail_b` for many `b` encode `id` once and precompute the
    * tails, instead of building and encoding the combined string per
    * digest (q225's 20 M-digest fan-out at sf0.1). */
  def md5Lower64Parts(prefix: Array[Byte], suffix: Array[Byte]): Long = {
    val md = md5Digest.get()
    md.reset()
    md.update(prefix)
    md.update(suffix)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v |= (d(8 + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** 64-bit SimHash over tokens: bit j of the result is the sign of
    * sum over tokens of ±1 per bit j of XXH64(token). */
  def simHash64(tokens: scala.collection.Seq[String]): Long =
    simHashImpl(tokens, md5Tokens = false)

  /** SimHash with md5-derived token hashes ([[md5Lower64]]): slower
    * than XXH64 but reproducible by any engine with an MD5 builtin —
    * the cross-engine-verifiable fingerprint variant. */
  def simHash64Md5(tokens: scala.collection.Seq[String]): Long =
    simHashImpl(tokens, md5Tokens = true)

  private def simHashImpl(
      tokens: scala.collection.Seq[String], md5Tokens: Boolean): Long = {
    val acc = new Array[Int](64)
    val it = tokens.iterator
    while (it.hasNext) {
      val t = it.next()
      val h = if (md5Tokens) md5Lower64(t) else hash64(t, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  /** Cosine similarity, float→double casts with a strict left-to-right
    * fold — bitwise equal to the DuckDB oracle's sequential list sum.
    * Returns 0 for zero vectors (matching [[Similarity.cosineKernel]]). */
  def cosine(
      a: scala.collection.Seq[Float],
      b: scala.collection.Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Symmetric per-vector int8 quantization: scale = max|x|/127,
    * q_i = clamp(floor(x_i/scale + 0.5), -127, 127). The rounding is
    * spelled floor(x + 0.5) — round-half-toward-+inf — because Java
    * and SQL engines compute that identically from IEEE doubles (no
    * round-half-even ambiguity), which is what lets the DuckDB oracle
    * recompute the exact quantized values. Zero vector → scale 0,
    * all-zero codes. */
  def quantizeInt8(v: scala.collection.Seq[Float]): (Double, Array[Byte]) = {
    val n = v.length
    var mx = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v(i).toDouble)
      if (a > mx) mx = a
      i += 1
    }
    val scale = mx / 127.0
    val q = new Array[Byte](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        val r = math.floor(v(i).toDouble / scale + 0.5)
        q(i) = (if (r > 127.0) 127.0 else if (r < -127.0) -127.0 else r).toByte
        i += 1
      }
    }
    (scale, q)
  }

  /** Cosine over int8 codes: 64-bit integer dot/norms (exact — no
    * float accumulation at all), one double division at the end. The
    * per-vector scales cancel in cosine, so they are not needed —
    * this is why int8 ANN shuffles 4x fewer vector bytes with no
    * extra metadata in the hot loop. */
  def int8Cosine(
      a: scala.collection.Seq[Byte], b: scala.collection.Seq[Byte]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a(i).toLong; val y = b(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
    if (d == 0.0) 0.0 else dot.toDouble / d
  }

  /** Distinct word n-grams (space-joined), first-occurrence order,
    * produced by one tight pass: tokens are the non-empty pieces of a
    * split on ' ', and a text with fewer than n tokens has no gram —
    * the same string set as the DuckDB oracles' `ExtShared.ngrams3`. */
  def wordNgrams(text: String, n: Int): Array[String] = {
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && text.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && text.charAt(i) != ' ') i += 1
      if (i > start) words += text.substring(start, i)
    }
    if (words.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var j = 0
    val sb = new java.lang.StringBuilder()
    while (j <= words.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(j + k))
        k += 1
      }
      seen.add(sb.toString)
      j += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Document fingerprint: the least [[md5Hex]] over the distinct
    * word n-grams ([[wordNgrams]]), or `md5Hex(text)` for a text with
    * no gram; null text gives null. One call per document: bitwise
    * Spark's and DuckDB's `md5` over UTF-8 bytes, lowercase hex, and
    * the lexicographic minimum, which the grams' order and dedup do
    * not change. */
  def fingerprint(text: String, n: Int): String =
    if (text == null) null
    else {
      val grams = wordNgrams(text, n)
      if (grams.isEmpty) md5Hex(text)
      else {
        var best = md5Hex(grams(0))
        var i = 1
        while (i < grams.length) {
          val h = md5Hex(grams(i))
          if (h.compareTo(best) < 0) best = h
          i += 1
        }
        best
      }
    }

  /** POSITIONAL md5 fingerprints of every word n-gram: element `i` is
    * [[md5Lower64]] of the space-joined gram starting at token `i+1`
    * (1-based), duplicates kept — the ordered companion to
    * [[wordNgrams]]'s distinct set, for span-level duplicate detection
    * where the START POSITION of each gram is the payload. Tokenizes
    * exactly like [[wordNgrams]] (space runs collapse, no empties), so
    * positions index the same token list DuckDB's
    * `list_filter(str_split(text,' '), x -> x <> '')` produces, and
    * the fingerprint is bit-for-bit `md5_number_lower(gram)` — both
    * halves of the cross-engine contract in one pass. */
  def gramMd5Positions(text: String, n: Int): Array[Long] = {
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && text.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && text.charAt(i) != ' ') i += 1
      if (i > start) words += text.substring(start, i)
    }
    if (words.length < n) return Array.empty
    val out = new Array[Long](words.length - n + 1)
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j <= words.length - n) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(j + k))
        k += 1
      }
      out(j) = md5Lower64(sb.toString)
      j += 1
    }
    out
  }

  /** One overlapping window over a document's token list: 1-based
    * start, token count, and the chunk text itself. */
  final case class Chunk(start_tok: Long, n_tokens: Long, chunk_text: String)

  /** Overlapping-window chunks in one pass: chunk `i` covers tokens
    * [i·stride + 1, i·stride + chunkSize] of the space-split token
    * list (runs of spaces collapse, same tokenization as
    * [[wordNgrams]]); starts advance until a chunk reaches the last
    * token, so every token lands in >= 1 chunk and only the final
    * chunk may be short. Empty/blank text yields no chunks. */
  def chunkOverlap(text: String, chunkSize: Int, stride: Int): Array[Chunk] = {
    // validated HERE, not only in Pack.chunkWithOverlap: the kernel is
    // also the body of the registered graft_chunks SQL UDF, and a SQL
    // caller must hit the same loud contract (stride=0 would otherwise
    // divide by zero below; stride>chunkSize would silently skip
    // tokens, violating the every-token-covered guarantee)
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && text.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && text.charAt(i) != ' ') i += 1
      if (i > start) words += text.substring(start, i)
    }
    val n = words.length
    if (n == 0) return Array.empty
    val nChunks =
      if (n <= chunkSize) 1
      else 1 + ((n - chunkSize + stride - 1) / stride)
    val out = new Array[Chunk](nChunks)
    val sb = new java.lang.StringBuilder()
    var c = 0
    while (c < nChunks) {
      val from = c * stride // 0-based
      val until = math.min(from + chunkSize, n)
      sb.setLength(0)
      var k = from
      while (k < until) {
        if (k > from) sb.append(' ')
        sb.append(words(k))
        k += 1
      }
      out(c) = Chunk(from + 1L, (until - from).toLong, sb.toString)
      c += 1
    }
    out
  }

  /** Full MD5(s) as the 32-char lowercase hex string — bit-for-bit
    * both DuckDB's and Spark SQL's `md5()`, usable as a cross-engine
    * content key where 64 bits ([[md5Lower64]]) is not wanted. */
  def md5Hex(s: String): String = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < 16) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** One content-defined chunk: 1-based char start, char length, and
    * the md5 hex of the chunk's characters. */
  final case class CdcChunk(start: Long, len: Long, chunkMd5: String)

  /** Content-defined chunking (the LBFS/rsync family): a boundary
    * closes a chunk after char position p (p >= window) whenever the
    * hash of the last `window` chars satisfies
    * `(md5Lower64 >>> 11) % modulus == 0`; the final position always
    * closes the last chunk. Because boundaries depend only on LOCAL
    * content, an insertion early in a document shifts chunk
    * positions but leaves every later chunk's CONTENT — and hence
    * its md5 — identical, which is what makes cross-document
    * shifted-content dedup work where fixed-size blocks fail.
    * Expected chunk length ≈ `modulus` chars. The >>> 11 keeps the
    * hash non-negative so `%` agrees with SQL's unsigned modulus
    * (the md5_number_lower contract). The window REMAINS rolling
    * across boundaries (standard CDC: no reset), so the oracle can
    * enumerate all positions independently. */
  def cdcChunks(text: String, window: Int, modulus: Int): Array[CdcChunk] = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(modulus >= 1, s"modulus must be >= 1, got $modulus")
    val n = text.length
    if (n == 0) return Array.empty
    val out = new scala.collection.mutable.ArrayBuffer[CdcChunk]()
    var start = 0 // 0-based inclusive
    var p = window // 1-based candidate boundary position
    while (p <= n) {
      val isLast = p == n
      val cut = isLast ||
        (md5Lower64(text.substring(p - window, p)) >>> 11) % modulus == 0
      if (cut) {
        val chunk = text.substring(start, p)
        out += CdcChunk(start + 1L, (p - start).toLong, md5Hex(chunk))
        start = p
      }
      p += 1
    }
    if (start < n) { // tail shorter than window
      val chunk = text.substring(start, n)
      out += CdcChunk(start + 1L, (n - start).toLong, md5Hex(chunk))
    }
    out.toArray
  }

  /** One adjacent token pair: its first token (the conditioning
    * unigram) and the space-joined pair (the bigram key). */
  final case class Bigram(a: String, ab: String)

  /** Positional bigrams in one pass: element `i` pairs tokens i+1 and
    * i+2 of the space-split token list (same tokenization as
    * [[wordNgrams]]). Texts with < 2 tokens yield nothing. */
  def bigrams(text: String): Array[Bigram] = {
    val words = new scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && text.charAt(i) == ' ') i += 1
      val start = i
      while (i < len && text.charAt(i) != ' ') i += 1
      if (i > start) words += text.substring(start, i)
    }
    if (words.length < 2) return Array.empty
    Array.tabulate(words.length - 1) { j =>
      Bigram(words(j), words(j) + " " + words(j + 1))
    }
  }

  /** Element-wise mean of float vectors accumulated IN INPUT ORDER
    * (float→double per element, strictly sequential adds, one final
    * division per dimension) — the ordered fold that makes the
    * centroid bitwise-reproducible by any engine that sums the same
    * sequence (the [[cosine]] contract applied to aggregation).
    * Callers fix the order (sort by id) before folding. */
  def centroid(vs: scala.collection.Seq[scala.collection.Seq[Float]]): Array[Double] = {
    require(vs.nonEmpty, "centroid of an empty group")
    val d = vs.head.length
    val acc = new Array[Double](d)
    vs.foreach { v =>
      require(v.length == d, s"ragged vectors: ${v.length} vs $d")
      var i = 0
      while (i < d) { acc(i) += v(i).toDouble; i += 1 }
    }
    val n = vs.length
    var i = 0
    while (i < d) { acc(i) /= n; i += 1 }
    acc
  }

  /** Exact Jaccard of two string sets: |A∩B| / (|A|+|B|-|A∩B|). Same
    * integer counts as array_intersect/array_union, so the double
    * division is bitwise identical to the SQL oracle's. Inputs are
    * already-distinct arrays. */
  def jaccard(
      a: scala.collection.Seq[String],
      b: scala.collection.Seq[String]): Double = {
    val (small, large) = if (a.length <= b.length) (a, b) else (b, a)
    val set = new java.util.HashSet[String](small.length * 2)
    small.foreach(set.add)
    var inter = 0
    val it = large.iterator
    while (it.hasNext) if (set.contains(it.next())) inter += 1
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Primitive-array overload (no boxing at all) — same math, same
    * bitwise result. */
  def cosineArrays(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }
}
