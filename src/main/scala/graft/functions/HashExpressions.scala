package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Deterministic 64-bit hashing shared by the sketch expressions. */
object Hashing {
  /** FNV-1a over UTF-8 bytes. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }
  /** splitmix64 finalizer — decorrelates seeded variants of one base hash. */
  def mix64(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def seed(i: Int): Long = mix64(0x5eed5eedL * (i + 1))
}

/** Evaluation kernels for the sketch expressions. Top-level object ⇒ the
  * Scala compiler emits static forwarders, so whole-stage-codegen'd Java
  * can call these directly (`graft.functions.HashOps.minhash(...)`) — the
  * expressions below generate exactly that call instead of falling back to
  * interpreted evaluation. */
object HashOps {

  /** Separator-delimited FNV-1a over tokens [start, start+len) + splitmix
    * finalizer — THE window hash every token-window sketch shares
    * (shingles, shinglePairs, chunks). One definition: hash equality
    * across those kernels ⇔ token-sequence equality by construction. */
  private def tokenWindowHash(arr: ArrayData, start: Int, len: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < len) {
      if (!arr.isNullAt(start + j)) {
        val bytes = arr.getUTF8String(start + j).getBytes
        var b = 0
        while (b < bytes.length) { h ^= (bytes(b) & 0xffL); h *= 0x100000001b3L; b += 1 }
      }
      h ^= 0x1fL; h *= 0x100000001b3L // token separator
      j += 1
    }
    Hashing.mix64(h)
  }

  def minhash(arr: ArrayData, k: Int, elementsAreLongs: Boolean): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val base =
          if (elementsAreLongs) arr.getLong(i)
          else Hashing.fnv1a64(arr.getUTF8String(i).getBytes)
        var s = 0
        while (s < k) {
          val h = Hashing.mix64(base ^ Hashing.seed(s))
          if (h < mins(s)) mins(s) = h
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val total = arr.numElements()
    def windowHash(start: Int, len: Int): Long = tokenWindowHash(arr, start, len)
    if (total < n) return new GenericArrayData(Array(windowHash(0, total)))
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](total - n + 1)
    var i = 0
    while (i <= total - n) {
      val h = windowHash(i, n)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** ALL overlapping `w`-token windows (stride 1), hashed with the same
    * separator-delimited scheme as [[shingles]] — every POSITION emits,
    * duplicates included: the denominator of a duplicated-span fraction
    * is positions, not distinct spans ([[shingles]] dedups, [[chunks]]
    * strides). Texts shorter than `w` emit nothing. */
  def spans(arr: ArrayData, w: Int): ArrayData = {
    val total = arr.numElements()
    if (total < w) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](total - w + 1)
    var i = 0
    while (i <= total - w) { out(i) = tokenWindowHash(arr, i, w); i += 1 }
    new GenericArrayData(out)
  }

  /** GREEDY left-to-right merge of every adjacent (a, b) symbol pair into
    * the single symbol a||b — one BPE merge round over one symbol
    * sequence. A freshly merged symbol never re-matches as the LEFT side
    * within the same round (a||b is strictly longer than a, so it can
    * never equal a), which makes the single forward scan exact: on
    * "x x x" with pair (x, x) the first two merge and the third survives. */
  def mergePair(arr: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (i + 1 < n && s == a && arr.getUTF8String(i + 1) == b) {
        out.add(UTF8String.concat(a, b)); i += 2
      } else { out.add(s); i += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  /** [[mergePair]] for a whole LEARNED MERGE LIST: rounds apply in rank
    * order, each a greedy left-to-right pass — exactly k sequential
    * [[mergePair]] rounds fused into one kernel call per symbol
    * sequence (BPE encode). */
  def mergeAll(arr: ArrayData, as: Array[UTF8String], bs: Array[UTF8String]): ArrayData = {
    var cur = arr
    var r = 0
    while (r < as.length) { cur = mergePair(cur, as(r), bs(r)); r += 1 }
    cur
  }

  /** One UTF8String per Unicode CODE POINT — the BPE symbol unit. Equals
    * `transform(sequence(1, length(w)), i -> substring(w, i, 1))`
    * (UTF8String.substring navigates whole code points, so emoji stay
    * single symbols), but as ONE codegen-able kernel call: the
    * higher-order-function spelling is CodegenFallback in Spark, which
    * exiled every BPE Generate/Project stage from whole-stage codegen —
    * r17 measured the resulting interpreted ExplodeBase.eval path at
    * 3-20x the codegen'd cost with JIT-pathological 60-100 s stalls on
    * the full board (OPTIMIZATION_r17.md "t20 stall"). */
  def codePoints(w: UTF8String): ArrayData = {
    val n = w.numChars()
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) { out(i) = w.substring(i, i + 1); i += 1 }
    new GenericArrayData(out)
  }

  private val sepU = UTF8String.fromString("\u001f")
  private val shaLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  /** First 32 bits of SHA-256 over the string's UTF-8 bytes, as an
    * unsigned long — byte-for-byte what the SQL spelling
    * `CAST(conv(substring(sha2(g, 256), 1, 8), 16, 10) AS BIGINT)`
    * produces (first 8 hex chars = first 4 digest bytes, parsed
    * unsigned). */
  def sha32(s: UTF8String): Long = {
    val md = shaLocal.get(); md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Spark's `xxhash64(string)` (seed 42) — same XXH64 kernel the
    * built-in expression generates, so values match the SQL spelling. */
  def xx64(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  /** Winnowing k-gram hashes: each stride-1 k-token window joined by the
    * 0x1F byte and hashed ([[sha32]] when `useSha`, else [[xx64]]); a
    * text shorter than k hashes as ONE whole-text gram — exactly the
    * CASE/transform/concat_ws/slice SQL spelling (the d19 oracle
    * replays these values bit-for-bit), as one codegen-able kernel. */
  def gramHashes(arr: ArrayData, k: Int, useSha: Boolean): ArrayData = {
    val n = arr.numElements()
    def gram(start: Int, len: Int): UTF8String = {
      val parts = new Array[UTF8String](len)
      var i = 0
      while (i < len) { parts(i) = arr.getUTF8String(start + i); i += 1 }
      UTF8String.concatWs(sepU, parts: _*)
    }
    def h(g: UTF8String): Long = if (useSha) sha32(g) else xx64(g)
    if (n < k) return new GenericArrayData(Array(h(gram(0, n))))
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) { out(i) = h(gram(i, k)); i += 1 }
    new GenericArrayData(out)
  }

  /** Sliding-window minima over a long array: min of each stride-1
    * `w`-window, or ONE global min when the array has ≤ w elements —
    * the winnowing selection rule (the CASE/transform/array_min/slice
    * SQL spelling) as a monotonic-deque O(n) kernel. */
  def windowMins(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n <= w) {
      var m = Long.MaxValue
      var i = 0
      while (i < n) { val v = arr.getLong(i); if (v < m) m = v; i += 1 }
      return new GenericArrayData(Array(m))
    }
    val out = new Array[Long](n - w + 1)
    val deque = new Array[Int](n) // indices, increasing values
    var head = 0; var tail = 0 // [head, tail)
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      while (tail > head && arr.getLong(deque(tail - 1)) > v) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = arr.getLong(deque(head))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Non-overlapping stride-`w` token windows (full windows only), hashed
    * with the same separator-delimited scheme as [[shingles]]: hash
    * equality ⇔ token-sequence equality (modulo 64-bit collisions). */
  def chunks(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements() / w
    val out = new Array[Long](n)
    var c = 0
    while (c < n) {
      out(c) = tokenWindowHash(arr, c * w, w)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** DISTINCT word n-grams as (hash, \u001f-joined string) pairs — the
    * recovery-capable sibling of [[shingles]]: same window scheme, same
    * hash, plus the \u001f-joined shingle TEXT so a winner set selected on
    * hashes can be mapped back to human-readable phrases. Emitting both
    * from one kernel guarantees the pairing is consistent (a hash always
    * rides with the exact string it was computed from). */
  private val spaceSep = UTF8String.fromString(" ")

  /** Rebuild kernel for [[graft.functions.DropChunks]]: tokens with the
    * `removed` chunk windows dropped, space-joined; the token tail past
    * the last full `w`-window always survives. */
  def dropChunks(arr: ArrayData, removed: ArrayData, w: Int): UTF8String = {
    val total = arr.numElements()
    val nFull = total / w
    val rm = new java.util.HashSet[Integer]()
    var i = 0
    while (i < removed.numElements()) {
      if (!removed.isNullAt(i)) rm.add(removed.getInt(i))
      i += 1
    }
    val parts = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var p = 0
    while (p < total) {
      if (p >= nFull * w || !rm.contains(p / w))
        parts += (if (arr.isNullAt(p)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(p))
      p += 1
    }
    UTF8String.concatWs(spaceSep, parts.toSeq: _*)
  }

  def shinglePairs(arr: ArrayData, n: Int): ArrayData = {
    val total = arr.numElements()
    def windowHash(start: Int, len: Int): Long = tokenWindowHash(arr, start, len)
    val sep = UTF8String.fromString("\u001f")
    val empty = UTF8String.fromString("")
    def windowStr(start: Int, len: Int): UTF8String = {
      if (len <= 0) return empty
      val parts = new Array[UTF8String](2 * len - 1)
      var j = 0
      while (j < len) {
        parts(2 * j) = if (arr.isNullAt(start + j)) empty else arr.getUTF8String(start + j)
        if (j < len - 1) parts(2 * j + 1) = sep
        j += 1
      }
      UTF8String.concat(parts: _*)
    }
    def pair(start: Int, len: Int): GenericInternalRow =
      new GenericInternalRow(Array[Any](windowHash(start, len), windowStr(start, len)))
    if (total < n)
      return new GenericArrayData(Array[Any](pair(0, total)))
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](total - n + 1)
    var i = 0
    while (i <= total - n) {
      val h = windowHash(i, n)
      if (seen.add(h)) out += pair(i, n)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def simhash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = Hashing.mix64(Hashing.fnv1a64(arr.getUTF8String(i).getBytes))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** 128-bit SimHash: the same per-bit vote as [[simhash]] over TWO
    * decorrelated 64-bit token hashes (splitmix finalizers of the one
    * FNV-1a base — one kernel pass, not two). Returned as [hi, lo]. The
    * wide sketch exists for the 10¹¹-distinct-sketch tail: 4×32-bit
    * bands give a 2³² bucket space (vs 2¹⁶ for the 64-bit sketch's
    * 4×16-bit bands) while keeping the Hamming ≤ 3 pigeonhole. */
  def simhash128(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](128)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val base = Hashing.fnv1a64(arr.getUTF8String(i).getBytes)
        val lo = Hashing.mix64(base)
        val hi = Hashing.mix64(base ^ 0xa5a5a5a5a5a5a5a5L)
        var b = 0
        while (b < 64) {
          if (((lo >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          if (((hi >>> b) & 1L) == 1L) votes(64 + b) += 1 else votes(64 + b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) lo |= (1L << b)
      if (votes(64 + b) > 0) hi |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(hi, lo))
  }

  /** Plane coefficients are deterministic pseudo-random values derived from
    * (bit, dim) — every executor regenerates the same planes, so nothing
    * needs broadcasting. */
  def hyperplane(arr: ArrayData, bits: Int, elementsAreFloat: Boolean): Long = {
    val n = arr.numElements()
    var sig = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val v = if (elementsAreFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          val h = Hashing.mix64(Hashing.seed(b) ^ (0x9e3779b97f4a7c15L * (i + 1)))
          dot += v * (h.toDouble / Long.MaxValue.toDouble)
        }
        i += 1
      }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** The LSH banding split of a long signature into `bands` chunks of
    * `width` bits, low bits first — value-identical to the
    * `transform(sequence(0, bands-1), b -> shiftright(x, b*width) & mask)`
    * spelling (the mask makes arithmetic vs logical shift
    * indistinguishable), as ONE codegen-able kernel call: the
    * higher-order-function spelling is CodegenFallback, which exiled
    * every banding Generate (d02/d03/d05/d09, m06/m07, s02) from
    * whole-stage codegen — the same interpreted-ExplodeBase defect class
    * as the r17 t20 stall (OPTIMIZATION_r17.md). */
  def bandBits(x: Long, bands: Int, width: Int): ArrayData = {
    val mask = (1L << width) - 1L
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) { out(b) = (x >> (b * width)) & mask; b += 1 }
    new GenericArrayData(out)
  }

  /** xxhash64 of each of `groups` consecutive `width`-element slices of a
    * long array — value-identical to `transform(sequence(0, groups-1),
    * b -> xxhash64(slice(sig, b*width+1, width)))`: Spark's xxhash64
    * over an array<long> argument seeds at 42 and folds each element
    * through XXH64.hashLong (KernelParitySpec pins this replay). The
    * MinHash 16-band × 4-row grouping of d02. */
  def sliceXxBands(arr: ArrayData, groups: Int, width: Int): ArrayData = {
    val out = new Array[Long](groups)
    var b = 0
    while (b < groups) {
      var h = 42L
      var i = 0
      while (i < width) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(arr.getLong(b * width + i), h)
        i += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent symbol pairs, each carrying the weight `w` — the BPE
    * trainer's pair-census unit, value-identical to
    * `CASE WHEN size(c) < 2 THEN array() ELSE transform(sequence(1,
    * size(c) - 1), i -> struct(c[i] AS a, c[i+1] AS b, w)) END` (the
    * CASE guard because Spark's sequence(1, 0) DESCENDS rather than
    * being empty). */
  def adjacentPairs(arr: ArrayData, w: Long): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = new GenericInternalRow(
        Array[Any](arr.getUTF8String(i), arr.getUTF8String(i + 1), w))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ALL stride-1 word n-grams as space-joined STRINGS (every position,
    * duplicates included; empty for texts shorter than n) —
    * value-identical to `CASE WHEN size(tk) < n THEN array() ELSE
    * transform(sequence(1, size(tk) - n + 1), i -> concat_ws(' ',
    * slice(tk, i, n))) END`. The string-census sibling of [[spans]]:
    * used where the gram TEXT is the group key (diversity censuses),
    * not a dedup hash. */
  def ngramJoin(arr: ArrayData, n: Int): ArrayData = {
    val total = arr.numElements()
    if (total < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[AnyRef](total - n + 1)
    var i = 0
    while (i <= total - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(spaceSep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent-bigram structs `(w1, bg)` — the PMI/census unit: for each
    * position i, the left token and the space-joined bigram.
    * Value-identical to `transform(sequence(0, n - 2), i ->
    * struct(toks[i] AS w1, concat(toks[i], ' ', toks[i + 1]) AS bg))`
    * over texts with ≥ 2 tokens (call sites filter n >= 2 first);
    * empty below 2 tokens. */
  def bigramStructs(arr: ArrayData): ArrayData = {
    val total = arr.numElements()
    if (total < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](total - 1)
    var i = 0
    while (i < total - 1) {
      val a = arr.getUTF8String(i)
      out(i) = new GenericInternalRow(
        Array[Any](a, UTF8String.concat(a, spaceSep, arr.getUTF8String(i + 1))))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of positions where two long arrays agree — value-identical to
    * `aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0,
    * (acc, v) -> acc + v)` on equal-length arrays (the minhash
    * est-jaccard numerator). */
  def agreeCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    c
  }

  /** Count of tokens that are members of `words` — value-identical to
    * `size(filter(toks, t -> array_contains(array(words...), t)))`
    * (UTF8String equality both ways). The caller builds `words` once. */
  def countIn(arr: ArrayData, words: java.util.Set[UTF8String]): Int = {
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i) && words.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Count of `words` that occur in the token array — the other
    * direction: `size(filter(array(words...), w -> array_contains(toks,
    * w)))`. */
  def countPresent(arr: ArrayData, words: Array[UTF8String]): Int = {
    val set = new java.util.HashSet[UTF8String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) set.add(arr.getUTF8String(i))
      i += 1
    }
    var c = 0
    var j = 0
    while (j < words.length) { if (set.contains(words(j))) c += 1; j += 1 }
    c
  }

  /** Count of tokens containing at least one ASCII letter —
    * value-identical to `size(filter(toks, t -> t rlike '[a-zA-Z]'))`:
    * UTF-8 multi-byte sequences never contain bytes < 0x80, so a byte
    * scan for [A-Za-z] is exact. */
  def countAlphaTokens(arr: ArrayData): Int = {
    var c = 0
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val bytes = arr.getUTF8String(i).getBytes
        var hit = false
        var b = 0
        while (!hit && b < bytes.length) {
          val ch = bytes(b)
          if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')) hit = true
          b += 1
        }
        if (hit) c += 1
      }
      i += 1
    }
    c
  }

  def fingerprint(input: UTF8String, w: Int): Long = {
    val B = 257L
    val bytes = input.getBytes
    if (bytes.length <= w) return Hashing.mix64(Hashing.fnv1a64(bytes))
    var bPowW = 1L
    var p = 0
    while (p < w) { bPowW *= B; p += 1 }
    var h = 0L
    var i = 0
    while (i < w) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    var min = Hashing.mix64(h)
    while (i < bytes.length) {
      h = h * B + (bytes(i) & 0xffL) - bPowW * (bytes(i - w) & 0xffL)
      val m = Hashing.mix64(h)
      if (m < min) min = m
      i += 1
    }
    min
  }
}

/** minhash_sig(shingles array<string|long>, k) → array<long>: the
  * k-permutation MinHash signature computed in ONE pass over the shingle
  * set (k seeded variants of one base hash per element), instead of k
  * separate hash-then-min aggregations. Codegen emits a direct static
  * call, keeping the projection inside whole-stage codegen. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val elementsAreLongs =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType
  override def nullSafeEval(input: Any): Any =
    HashOps.minhash(input.asInstanceOf[ArrayData], k, elementsAreLongs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.minhash($c, $k, $elementsAreLongs)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** shingle_hashes(tokens array<string>, n) → array<long>: DISTINCT hashed
  * word n-grams in one pass, never materializing the shingle strings. The
  * equivalent built-in pipeline (transform(sequence(...)) + concat_ws +
  * array_distinct) is interpreted per element and costs ~100× more; at
  * 100 TB the shingle strings would also triple the shuffle volume vs
  * 8-byte hashes. Documents with fewer than n tokens contribute one hash
  * of the whole token list. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.shingles(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.shingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** shingle_pairs(tokens array<string>, n) → array<struct<h: long,
  * t: string>>: DISTINCT word n-grams as (hash, \u001f-joined text)
  * pairs — [[ShingleHashes]] plus string recovery from the SAME kernel,
  * so a winner set selected on hashes maps back to the exact phrases it
  * was computed from. Used where a small frequent subset must be
  * human-readable (boilerplate phrase mining); the hash-only sibling
  * stays the dedup-path default since strings triple shuffle volume. */
case class ShinglePairs(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h", LongType, nullable = false),
      StructField("t", StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.shinglePairs(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.shinglePairs($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShinglePairs = copy(child = c)
  override def prettyName: String = "shingle_pairs"
}

/** chunk_hashes(tokens array<string>, w) → array<long>: hashes of the
  * consecutive NON-OVERLAPPING w-token windows (full windows only; the
  * tail remainder is dropped) — the passage key for sub-document dedup.
  * One pass, no string materialization; the built-in equivalent
  * (transform(sequence)+slice+concat_ws) re-inlines the tokenizer per
  * element after project collapse and evaluates interpreted. */
case class ChunkHashes(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.chunks(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.chunks($c, $w)")
  override protected def withNewChildInternal(c: Expression): ChunkHashes = copy(child = c)
  override def prettyName: String = "chunk_hashes"
}

/** span_hashes(tokens array<string>, w) → array<long>: hashes of ALL
  * overlapping (stride-1) `w`-token windows, one per position, duplicates
  * included; empty for texts shorter than w. */
case class SpanHashes(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.spans(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.spans($c, $w)")
  override protected def withNewChildInternal(c: Expression): SpanHashes = copy(child = c)
  override def prettyName: String = "span_hashes"
}

/** merge_pair(syms array<string>) → array<string>: one greedy BPE merge
  * round — every adjacent (a, b) becomes a||b, left to right (see
  * [[HashOps.mergePair]]). The pair rides as constructor values (plain
  * data, never SQL text — symbols may contain quotes), bound per round
  * by `TextAnalysis.bpeMerges` through a builder closure. */
case class MergePair(child: Expression, a: String, b: String) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val ua = UTF8String.fromString(a)
  @transient private lazy val ub = UTF8String.fromString(b)
  override def nullSafeEval(input: Any): Any =
    HashOps.mergePair(input.asInstanceOf[ArrayData], ua, ub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("mergeA", ua, "org.apache.spark.unsafe.types.UTF8String")
    val rb = ctx.addReferenceObj("mergeB", ub, "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.mergePair($c, $ra, $rb)")
  }
  override protected def withNewChildInternal(c: Expression): MergePair = copy(child = c)
  override def prettyName: String = "merge_pair"
}

/** merge_all(syms array<string>) → array<string>: a learned BPE merge
  * list applied in rank order, each round a greedy left-to-right pass
  * (see [[HashOps.mergeAll]]). The merge table rides as constructor
  * data, bound by `TextAnalysis.bpeEncode` through a builder closure. */
/** code_points(word string) → array<string>: one element per Unicode code
  * point (see [[HashOps.codePoints]]) — the codegen-able replacement for
  * the CodegenFallback `transform(sequence(1, length(w)), i ->
  * substring(w, i, 1))` spelling that kept every BPE Generate stage out
  * of whole-stage codegen (r17 board stalls). */
case class CodePoints(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.codePoints(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.codePoints($c)")
  override protected def withNewChildInternal(c: Expression): CodePoints = copy(child = c)
  override def prettyName: String = "code_points"
}

/** gram_hashes(tokens array<string>, k, useSha) → array<long>: winnowing
  * k-gram hashes (see [[HashOps.gramHashes]]); `useSha` picks the
  * sha-256-prefix deployment-audit hash, else Spark's xxhash64. */
case class GramHashes(child: Expression, k: Int, useSha: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.gramHashes(input.asInstanceOf[ArrayData], k, useSha)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.gramHashes($c, $k, $useSha)")
  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
  override def prettyName: String = "gram_hashes"
}

/** window_mins(hs array<long>, w) → array<long>: stride-1 sliding-window
  * minima, one global min when |hs| ≤ w (see [[HashOps.windowMins]]) —
  * the winnowing fingerprint selection. */
case class WindowMins(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.windowMins(input.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.windowMins($c, $w)")
  override protected def withNewChildInternal(c: Expression): WindowMins = copy(child = c)
  override def prettyName: String = "window_mins"
}

case class MergeAll(child: Expression, pairs: Seq[(String, String)]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val as = pairs.map(p => UTF8String.fromString(p._1)).toArray
  @transient private lazy val bs = pairs.map(p => UTF8String.fromString(p._2)).toArray
  override def nullSafeEval(input: Any): Any =
    HashOps.mergeAll(input.asInstanceOf[ArrayData], as, bs)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("mergeAs", as, "org.apache.spark.unsafe.types.UTF8String[]")
    val rb = ctx.addReferenceObj("mergeBs", bs, "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.mergeAll($c, $ra, $rb)")
  }
  override protected def withNewChildInternal(c: Expression): MergeAll = copy(child = c)
  override def prettyName: String = "merge_all"
}

/** simhash64(tokens array<string>) → long: 64-bit SimHash over the token
  * multiset (per-bit vote of each token's hash, sign → bit). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashOps.simhash(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** simhash128(tokens array<string>) → array<long> [hi, lo]: 128-bit
  * SimHash — the WIDE-sketch variant whose 4×32-bit bands keep the
  * Hamming ≤ 3 pigeonhole over a 2³² bucket space (see
  * [[HashOps.simhash128]]). */
case class SimHash128(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.simhash128(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.simhash128($c)")
  override protected def withNewChildInternal(c: Expression): SimHash128 = copy(child = c)
  override def prettyName: String = "simhash128"
}

/** hyperplane_sig(vec array<float|double>, bits) → long: random-hyperplane
  * (sign-of-projection) LSH signature. */
case class HyperplaneSig(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  private lazy val elementsAreFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(input: Any): Any =
    HashOps.hyperplane(input.asInstanceOf[ArrayData], bits, elementsAreFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.hyperplane($c, $bits, $elementsAreFloat)")
  override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
  override def prettyName: String = "hyperplane_sig"
}

/** rolling_fingerprint(text, w) → long: Rabin-Karp rolling hash over the
  * UTF-8 bytes with window w; the fingerprint is the MINIMUM mixed window
  * hash (winnowing-style document fingerprint — stable under local edits
  * away from the minimizing window). */
case class RollingFingerprint(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashOps.fingerprint(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.fingerprint($c, $w)")
  override protected def withNewChildInternal(c: Expression): RollingFingerprint = copy(child = c)
  override def prettyName: String = "rolling_fingerprint"
}

/** drop_chunks(tokens array<string>, removed array<int>, w) → string:
  * rebuilds a text from its tokens with every `removed` chunk index's
  * `w`-token window dropped; trailing tokens past the last full chunk
  * are always kept (they were never part of a chunk — cf.
  * [[ChunkHashes]], which floors to full windows). The rebuild kernel of
  * the corpus passage-scrub transform: one codegen'd pass, no
  * interpreted higher-order lambda on the text-sized path. */
case class DropChunks(left: Expression, right: Expression, w: Int) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(toks: Any, removed: Any): Any =
    HashOps.dropChunks(toks.asInstanceOf[ArrayData], removed.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, r) => s"graft.functions.HashOps.dropChunks($t, $r, $w)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DropChunks =
    copy(left = l, right = r)
  override def prettyName: String = "drop_chunks"
}

/** band_bits(x long, bands, width) → array<long>: the LSH banding split
  * of a long signature into `bands` chunks of `width` bits (low bits
  * first — see [[HashOps.bandBits]]); posexplode of this kernel keeps
  * the banding Generate inside whole-stage codegen where the
  * CodegenFallback transform/shiftright spelling exiled it. */
case class BandBits(child: Expression, bands: Int, width: Int) extends UnaryExpression {
  // past 64 bits the shift wraps mod 64 and band keys silently repeat
  require(bands * width <= 64, s"band_bits: $bands bands x $width bits exceed a 64-bit signature")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.bandBits(input.asInstanceOf[Long], bands, width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.bandBits($c, $bands, $width)")
  override protected def withNewChildInternal(c: Expression): BandBits = copy(child = c)
  override def prettyName: String = "band_bits"
}

/** slice_xx_bands(sig array<long>, groups, width) → array<long>: xxhash64
  * of each consecutive `width`-element signature slice (see
  * [[HashOps.sliceXxBands]]) — the MinHash band keys of d02, replaying
  * `xxhash64(slice(sig, b*width+1, width))` bit-for-bit. */
case class SliceXxBands(child: Expression, groups: Int, width: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.sliceXxBands(input.asInstanceOf[ArrayData], groups, width)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.sliceXxBands($c, $groups, $width)")
  override protected def withNewChildInternal(c: Expression): SliceXxBands = copy(child = c)
  override def prettyName: String = "slice_xx_bands"
}

/** adjacent_pairs(syms array<string>, w long) → array<struct<a, b, w>>:
  * the BPE trainer's weighted adjacent-pair census unit (see
  * [[HashOps.adjacentPairs]]). `w` is an expression (the trainer passes
  * ±freq), so one kernel serves census and delta passes. */
case class AdjacentPairs(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", StringType, nullable = false),
      StructField("b", StringType, nullable = false),
      StructField("w", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(syms: Any, w: Any): Any =
    HashOps.adjacentPairs(syms.asInstanceOf[ArrayData], w.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, w) => s"graft.functions.HashOps.adjacentPairs($s, $w)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AdjacentPairs =
    copy(left = l, right = r)
  override def prettyName: String = "adjacent_pairs"
}

/** ngram_join(tk array<string>, n) → array<string>: ALL stride-1 word
  * n-grams space-joined (see [[HashOps.ngramJoin]]) — the string-census
  * sibling of [[SpanHashes]]. */
case class NgramJoin(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.ngramJoin(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.ngramJoin($c, $n)")
  override protected def withNewChildInternal(c: Expression): NgramJoin = copy(child = c)
  override def prettyName: String = "ngram_join"
}

/** bigram_structs(toks array<string>) → array<struct<w1, bg>>: adjacent
  * bigrams with their left token (see [[HashOps.bigramStructs]]) — the
  * PMI census unit. */
case class BigramStructs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("bg", StringType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashOps.bigramStructs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.bigramStructs($c)")
  override protected def withNewChildInternal(c: Expression): BigramStructs = copy(child = c)
  override def prettyName: String = "bigram_structs"
}

/** agree_count(a array<long>, b array<long>) → int: positions where the
  * two signatures agree (see [[HashOps.agreeCount]]) — the minhash
  * est-jaccard numerator, codegen'd. */
case class AgreeCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    HashOps.agreeCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashOps.agreeCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): AgreeCount =
    copy(left = l, right = r)
  override def prettyName: String = "agree_count"
}

/** count_in(toks array<string>) → int: tokens that are members of the
  * bound word list (see [[HashOps.countIn]]) — the stopword-hit count.
  * Words ride as constructor data (never SQL text — a word with a quote
  * must stay data), the MergeAll convention. */
case class CountIn(child: Expression, words: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  // built once per expression instance, not per row
  @transient private lazy val ws: java.util.Set[UTF8String] =
    new java.util.HashSet[UTF8String](words.map(UTF8String.fromString).asJava)
  override def nullSafeEval(input: Any): Any =
    HashOps.countIn(input.asInstanceOf[ArrayData], ws)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("countInWords", ws, "java.util.Set")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.countIn($c, $r)")
  }
  override protected def withNewChildInternal(c: Expression): CountIn = copy(child = c)
  override def prettyName: String = "count_in"
}

/** count_present(toks array<string>) → int: bound words that occur in the
  * token array (see [[HashOps.countPresent]]). */
case class CountPresent(child: Expression, words: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  @transient private lazy val ws = words.map(UTF8String.fromString).toArray
  override def nullSafeEval(input: Any): Any =
    HashOps.countPresent(input.asInstanceOf[ArrayData], ws)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("countPresentWords", ws,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.countPresent($c, $r)")
  }
  override protected def withNewChildInternal(c: Expression): CountPresent = copy(child = c)
  override def prettyName: String = "count_present"
}

/** count_alpha_tokens(toks array<string>) → int: tokens containing an
  * ASCII letter (see [[HashOps.countAlphaTokens]]) — the `rlike
  * '[a-zA-Z]'` filter count without the per-token interpreted lambda. */
case class CountAlphaTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    HashOps.countAlphaTokens(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.countAlphaTokens($c)")
  override protected def withNewChildInternal(c: Expression): CountAlphaTokens = copy(child = c)
  override def prettyName: String = "count_alpha_tokens"
}
