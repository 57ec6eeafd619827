package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shingling + MinHash kernels (static so generated code can call them).
  *
  * Why kernels: the r11 stage profile of `l_dedup_minhash` at sf10 put
  * 63% of the query's wall (455 s of CPU across 32 cores) in the
  * shingle projection — a java.util.regex split, an interpreted
  * `transform` HOF (HOFs are CodegenFallback), and a per-gram
  * slice+array_join allocation storm — and another 134 s CPU in the
  * per-(shingle, hash) md5 digest chain behind an explode + groupBy-min
  * exchange. One byte scan builds the shingles; one pass over the
  * shingle array computes ALL minhash values per document, so the
  * signature rides the scan with ZERO shuffle (the explode+agg path
  * shuffled (doc_id, digest) rows). Per-row state is O(numHashes)
  * longs — nothing corpus-proportional, the right 100 TB shape.
  */
object ShingleKernels {

  private val WS_MAX = 0x20
  @inline private def isWs(b: Byte): Boolean =
    // Java regex \s = [ \t\n\x0B\f\r] — all ASCII, so a byte-level
    // scan is exact on UTF-8 (multi-byte code points are >= 0x80,
    // negative as JVM bytes, and never match)
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Word n-gram shingles, byte-for-byte equal to the composed form
    * `array_distinct(transform(sequence(1, greatest(size(tokens)-(n-1), 1)),
    * i => array_join(slice(tokens, i, n), " ")))` over
    * `tokens = split(trim(text), "\\s+")` (with the <n-token fallback
    * of a single all-tokens gram) — the form the DuckDB oracle keeps.
    *
    * Exactness argument:
    *  - `trim` strips 0x20 ONLY (Spark trim semantics), reproduced here.
    *  - `split(str, "\\s+")` is Java `Pattern.split(s, -1)`: a leading
    *    separator run yields ONE leading empty token, a trailing run
    *    yields ONE trailing empty token (limit -1 keeps it), and the
    *    empty string yields [""] — all reproduced by the scanner below.
    *  - grams join the token BYTES with a single 0x20, exactly what
    *    array_join does (no element of the split is null).
    *  - distinct keeps first occurrence, like array_distinct
    *    (LinkedHashSet on UTF8String, whose equals/hashCode are
    *    byte-wise).
    * The one deliberate divergence: on INVALID UTF-8 the composed form
    * round-trips through String and substitutes U+FFFD inside tokens;
    * this kernel preserves the original bytes (whitespace bytes never
    * occur inside a multi-byte sequence, so token BOUNDARIES agree).
    * Lake text is valid UTF-8, where the two are identical
    * (property-checked in ShingleKernelSpec).
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    // trim: spaces only, both ends
    var lo = 0
    var hi = b.length
    while (lo < hi && b(lo) == ' ') lo += 1
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    // split on \s+ runs, Pattern.split(s, -1) semantics
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var pos = lo
    var i = lo
    while (i < hi) {
      if (isWs(b(i))) {
        starts.add(pos); ends.add(i)
        i += 1
        while (i < hi && isWs(b(i))) i += 1
        pos = i
      } else i += 1
    }
    starts.add(pos); ends.add(hi) // final token (empty if trailing run)
    val m = starts.size()
    val cnt = m - (n - 1)
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (cnt >= 1) {
      var g = 0
      while (g < cnt) {
        out.add(joinTokens(b, starts, ends, g, n))
        g += 1
      }
    } else {
      out.add(joinTokens(b, starts, ends, 0, m))
    }
    val arr = new Array[Any](out.size())
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  /** Join tokens [from, from+len) with single spaces, from the original
    * bytes.
    */
  private def joinTokens(b: Array[Byte], starts: java.util.ArrayList[Integer],
      ends: java.util.ArrayList[Integer], from: Int, len: Int): UTF8String = {
    var total = len - 1 // separators
    var t = from
    while (t < from + len) { total += ends.get(t) - starts.get(t); t += 1 }
    val out = new Array[Byte](total)
    var o = 0
    t = from
    while (t < from + len) {
      if (t > from) { out(o) = ' '; o += 1 }
      val s = starts.get(t)
      val e = ends.get(t)
      System.arraycopy(b, s, out, o, e - s)
      o += e - s
      t += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Whitespace token array, byte-for-byte equal to the composed form
    * `split(trim(text), "\\s+")` (the form the DuckDB oracles keep as
    * `string_split_regex(trim(text), '\s+')`). The SAME boundary
    * scanner as [[shingles]] — trim strips 0x20 only; Pattern.split(s,
    * -1) keeps one leading and one trailing empty token around
    * separator runs; "" → [""] — emitted as the token array instead of
    * joined n-grams. Exists because the BPE family (Bpe.tokens) and
    * the explode-a-token-stream queries paid a java.util.regex split
    * per row for the exact boundaries this scanner already finds
    * (VERDICT r14 item 3: l_bpe_merge's linear term).
    */
  def tokens(text: UTF8String): ArrayData = {
    val b = text.getBytes
    var lo = 0
    var hi = b.length
    while (lo < hi && b(lo) == ' ') lo += 1
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    val out = new java.util.ArrayList[Any]()
    var pos = lo
    var i = lo
    while (i < hi) {
      if (isWs(b(i))) {
        out.add(UTF8String.fromBytes(b, pos, i - pos))
        i += 1
        while (i < hi && isWs(b(i))) i += 1
        pos = i
      } else i += 1
    }
    out.add(UTF8String.fromBytes(b, pos, hi - pos)) // final token (empty if trailing run)
    new GenericArrayData(out.toArray)
  }

  /** Fixed n-token chunk array in ONE byte pass, byte-for-byte equal
    * to the composed chunking form over
    * `tokens = split(trim(text), "\\s+")`:
    * {{{
    * transform(sequence(0, greatest(ceil(size(tokens)/n.0), 1) - 1),
    *   i => array_join(slice(tokens, i*n + 1, n), " "))
    * }}}
    * (the form the DuckDB oracles keep). The scanner always yields >= 1
    * token ("" -> [""]), so ceil(m/n) >= 1 and the greatest() guard is
    * the identity; chunk k joins tokens [k*n, min((k+1)*n, m)) with
    * single 0x20 bytes, exactly array_join over a slice.
    *
    * Why a kernel: the composed form references the token array inside
    * a `transform` HOF lambda (HOFs are CodegenFallback), where the
    * interpreted ArrayTransform re-evaluates the tokenizer
    * subexpression per chunk — the l_paragraph_scrub r15 regression
    * (driver 0.54x, VERDICT r15 item 2). One scan finds the
    * boundaries; each chunk is one allocation + arraycopy.
    */
  def chunks(text: UTF8String, n: Int): ArrayData = {
    val b = text.getBytes
    var lo = 0
    var hi = b.length
    while (lo < hi && b(lo) == ' ') lo += 1
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    val starts = new java.util.ArrayList[Integer]()
    val ends = new java.util.ArrayList[Integer]()
    var pos = lo
    var i = lo
    while (i < hi) {
      if (isWs(b(i))) {
        starts.add(pos); ends.add(i)
        i += 1
        while (i < hi && isWs(b(i))) i += 1
        pos = i
      } else i += 1
    }
    starts.add(pos); ends.add(hi) // final token (empty if trailing run)
    val m = starts.size()
    // m >= 1, so >= 1; (m + n - 1) / n overflows Int for large n
    val nChunks = 1 + (m - 1) / n
    val arr = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val from = c * n
      arr(c) = joinTokens(b, starts, ends, from, math.min(n, m - from))
      c += 1
    }
    new GenericArrayData(arr)
  }

  /** One greedy left-to-right BPE merge of the adjacent pair (w1, w2)
    * into "w1_w2" over a token array, in one pass — the per-document
    * form of the gaps-and-islands parity logic in
    * [[graft.operators.Bpe.applyMergeJoined]] (a run of k consecutive
    * pair occurrences merges at its 1st, 3rd, 5th... positions; the
    * token after a merge is consumed). Greedy scan == parity by
    * construction: after merging at position p the scan resumes at
    * p+2, which is exactly "offset from island start is even".
    * BpeMergeKernelSpec pins equality against the relational form on
    * random token tables. Null ELEMENTS (never produced by
    * graft_tokens) are copied through unmerged, matching the
    * relational form's null-intolerant equality.
    */
  def bpeMerge(tokens: ArrayData, w1: UTF8String, w2: UTF8String): ArrayData = {
    val m = tokens.numElements()
    val out = new java.util.ArrayList[Any](m)
    val sep = UTF8String.fromString("_")
    var i = 0
    while (i < m) {
      if (i + 1 < m && !tokens.isNullAt(i) && !tokens.isNullAt(i + 1) &&
          w1.equals(tokens.getUTF8String(i)) && w2.equals(tokens.getUTF8String(i + 1))) {
        out.add(UTF8String.concat(w1, sep, w2))
        i += 2
      } else {
        out.add(if (tokens.isNullAt(i)) null else tokens.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** BPE-ish pre-tokenizer match COUNT in one byte pass, equal to
    * `size(regexp_extract_all(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))`
    * (TextAnalysis.bpeishTokenCount's composed form, which the DuckDB
    * oracles keep). Regex repeated-find semantics reproduced exactly:
    * at each position, a letter starts a maximal letter run (one
    * match), a digit starts a maximal digit run (one match), Java \s
    * (ASCII-only) advances without matching, and any other CODE POINT
    * — ASCII symbol or non-ASCII — is one single-char match of the
    * third alternative (counted at UTF-8 lead bytes, like the
    * TextStatsKernels code-point counters).
    */
  def bpeishCount(text: UTF8String): Long = {
    val b = text.getBytes
    val n = b.length
    var i = 0
    var count = 0L
    while (i < n) {
      val c = b(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        count += 1
        i += 1
        while (i < n && ((b(i) >= 'A' && b(i) <= 'Z') || (b(i) >= 'a' && b(i) <= 'z'))) i += 1
      } else if (c >= '0' && c <= '9') {
        count += 1
        i += 1
        while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
      } else if (isWs(c)) {
        i += 1
      } else {
        // one code point: ASCII symbol is 1 byte; a non-ASCII lead
        // byte (>= 0xC0 as unsigned) is followed by continuation
        // bytes (0x80..0xBF) that belong to the same match
        count += 1
        i += 1
        while (i < n && (b(i) & 0xC0) == 0x80) i += 1
      }
    }
    count
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Distinct 56-bit hashes of a shingle set in one pass: per element,
    * the first 14 hex digits of md5(shingle) read as a long (the
    * repo-wide `conv(substring(md5(s), 1, 14), 16, 10)` idiom — 7
    * digest bytes, big-endian, always non-negative), deduplicated
    * first-occurrence like array_distinct. The verify-join attach
    * payload for the LSH dedup family: set intersections/unions over
    * these longs equal those over the shingle STRINGS up to md5-56
    * collisions, which land identically on both engines (same
    * standardized digests), so cross-engine exactness is preserved by
    * construction while the attach exchange shrinks from ~whole-text
    * shingle arrays to 8 bytes per shingle.
    */
  def hash56(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val md = md5Local.get()
    var s = 0
    while (s < n) {
      if (!shingles.isNullAt(s)) {
        md.reset()
        md.update(shingles.getUTF8String(s).getBytes)
        val dig = md.digest()
        var v = 0L
        var i = 0
        while (i < 7) { v = (v << 8) | (dig(i) & 0xFFL); i += 1 }
        out.add(v): Unit
      }
      s += 1
    }
    val arr = new Array[Any](out.size())
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next().longValue(); k += 1 }
    new GenericArrayData(arr)
  }

  /** All `numHashes` MinHash values of a shingle set in ONE pass, as
    * longs. Hash family identical to the Dedup explode path (and the
    * DuckDB oracle): hash i is the i%4-th 8-hex-char chunk of
    * md5(("x"*(i/4) + "|") ++ shingle) (no prefix for i/4 == 0), read
    * as an unsigned 32-bit integer; the value is the min over
    * shingles. Identical because a fixed-width hex chunk is
    * order-isomorphic to its numeric value and md5 is standardized.
    *
    * Null on an EMPTY array (the explode+groupBy form drops such docs;
    * `Dedup.wordShingles` never emits one, so the difference is
    * unobservable in the pipelines) and on null elements' positions
    * having no non-null shingle at all; null elements are skipped like
    * an aggregate min skips nulls.
    */
  /** [[minhashLongs]] AND [[hash56]] in ONE digest pass, as a struct
    * (sig array<long> | null, h56 array<long>). The two kernels'
    * j = 0 digests are byte-identical — both are md5 of the bare
    * shingle bytes — so a pipeline that BANDS a signature and also
    * attaches the 56-bit verify-join sets (all six LSH dedup queries)
    * was digesting every shingle once more than necessary (r13
    * verdict item 2). Here md5(shingle) is computed once and feeds
    * both the lane-block-0 minhash mins and the 56-bit set element;
    * remaining lane blocks digest as before. Field semantics are
    * exactly the separate kernels' (ShingleKernelSpec pins both):
    * sig is null on empty/all-null input, h56 is the LinkedHashSet
    * first-occurrence distinct.
    */
  def minhashH56(shingles: ArrayData, numHashes: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val nSh = shingles.numElements()
    val nDig = (numHashes + 3) / 4
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val set56 = new java.util.LinkedHashSet[java.lang.Long]()
    val md = md5Local.get()
    var seen = false
    var s = 0
    while (s < nSh) {
      if (!shingles.isNullAt(s)) {
        seen = true
        val sb = shingles.getUTF8String(s).getBytes
        var j = 0
        while (j < nDig) {
          md.reset()
          if (j > 0) {
            var x = 0
            while (x < j) { md.update('x'.toByte); x += 1 }
            md.update('|'.toByte)
          }
          md.update(sb)
          val dig = md.digest()
          if (j == 0) {
            // the shared digest: first 7 bytes big-endian = hash56
            var v56 = 0L
            var i = 0
            while (i < 7) { v56 = (v56 << 8) | (dig(i) & 0xFFL); i += 1 }
            set56.add(v56): Unit
          }
          var c = 0
          val hLim = math.min(4, numHashes - 4 * j)
          while (c < hLim) {
            val v = ((dig(4 * c) & 0xFFL) << 24) | ((dig(4 * c + 1) & 0xFFL) << 16) |
              ((dig(4 * c + 2) & 0xFFL) << 8) | (dig(4 * c + 3) & 0xFFL)
            val i = 4 * j + c
            if (v < mins(i)) mins(i) = v
            c += 1
          }
          j += 1
        }
      }
      s += 1
    }
    val arr56 = new Array[Any](set56.size())
    val it = set56.iterator()
    var k = 0
    while (it.hasNext) { arr56(k) = it.next().longValue(); k += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      if (!seen) null else new GenericArrayData(mins.map(l => l: Any)),
      new GenericArrayData(arr56)))
  }

  def minhashLongs(shingles: ArrayData, numHashes: Int): ArrayData = {
    val nSh = shingles.numElements()
    val nDig = (numHashes + 3) / 4
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = md5Local.get()
    var seen = false
    var s = 0
    while (s < nSh) {
      if (!shingles.isNullAt(s)) {
        seen = true
        val sb = shingles.getUTF8String(s).getBytes
        var j = 0
        while (j < nDig) {
          md.reset()
          if (j > 0) {
            var x = 0
            while (x < j) { md.update('x'.toByte); x += 1 }
            md.update('|'.toByte)
          }
          md.update(sb)
          val dig = md.digest()
          var c = 0
          val hLim = math.min(4, numHashes - 4 * j)
          while (c < hLim) {
            val v = ((dig(4 * c) & 0xFFL) << 24) | ((dig(4 * c + 1) & 0xFFL) << 16) |
              ((dig(4 * c + 2) & 0xFFL) << 8) | (dig(4 * c + 3) & 0xFFL)
            val i = 4 * j + c
            if (v < mins(i)) mins(i) = v
            c += 1
          }
          j += 1
        }
      }
      s += 1
    }
    if (!seen) null
    else new GenericArrayData(mins.map(l => l: Any))
  }
}

/** `graft_shingles(text, n)` — see [[ShingleKernels.shingles]]. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "graft_shingles: n must be >= 1")

  // containsNull matches the composed transform/array_join form's
  // conservative nullability (elements are never actually null)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernels.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `graft_tokens(text)` — see [[ShingleKernels.tokens]]. */
case class WhitespaceTokensKernel(child: Expression) extends UnaryExpression {
  // containsNull matches split()'s conservative nullability (elements
  // are never actually null)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_tokens"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernels.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokensKernel =
    copy(child = newChild)
}

/** `graft_chunks(text, n)` — see [[ShingleKernels.chunks]]. */
case class WordChunks(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "graft_chunks: n must be >= 1")

  // containsNull matches the composed transform/array_join form's
  // conservative nullability (elements are never actually null)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_chunks"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.chunks(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernels.chunks($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

/** `graft_bpe_merge(tokens, w1, w2)` — see [[ShingleKernels.bpeMerge]]. */
case class BpeMergeKernel(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bpe_merge"

  override protected def nullSafeEval(toks: Any, w1: Any, w2: Any): Any =
    ShingleKernels.bpeMerge(toks.asInstanceOf[ArrayData],
      w1.asInstanceOf[UTF8String], w2.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, a, b) =>
      s"graft.functions.ShingleKernels.bpeMerge($t, $a, $b)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BpeMergeKernel =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_bpeish(text)` — see [[ShingleKernels.bpeishCount]]. */
case class BpeishCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpeish"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.bpeishCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernels.bpeishCount($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeishCount =
    copy(child = newChild)
}

/** `graft_hash56(shingles)` — see [[ShingleKernels.hash56]]. */
case class ShingleHash56(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hash56"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.hash56(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernels.hash56($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash56 =
    copy(child = newChild)
}

/** `graft_minhash_h56(shingles, numHashes)` — see
  * [[ShingleKernels.minhashH56]]: the fused minhash-signature +
  * 56-bit-set kernel (struct of sig, h56) sharing the j = 0 digest.
  */
case class MinhashWithHash56(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= 64, "graft_minhash_h56: numHashes in [1, 64]")

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    // sig is null on empty/all-null shingle arrays (minhashLongs'
    // contract); h56 of such an array is the empty set
    org.apache.spark.sql.types.StructField("sig",
      ArrayType(LongType, containsNull = false), nullable = true),
    org.apache.spark.sql.types.StructField("h56",
      ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "graft_minhash_h56"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.minhashH56(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernels.minhashH56($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashWithHash56 =
    copy(child = newChild)
}

/** `graft_minhash(shingles, numHashes)` — see
  * [[ShingleKernels.minhashLongs]].
  */
case class MinhashLongs(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= 64, "graft_minhash: numHashes in [1, 64]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on empty/all-null input arrays even when the child is non-null
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override protected def nullSafeEval(input: Any): Any =
    ShingleKernels.minhashLongs(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // can't use defineCodeGen: the kernel returns null for empty
    // arrays, so the result's isNull must be re-checked
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.ShingleKernels.minhashLongs($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashLongs =
    copy(child = newChild)
}
