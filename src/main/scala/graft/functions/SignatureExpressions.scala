package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, ByteType, DataType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the near-dup signature hot path.
  *
  * The composable higher-order-function formulations (see Dedup.scala
  * history) evaluate interpreted — per-row costs of building shingle
  * strings and folding 64-bit counters dominate at scale. These
  * expressions compute the same signatures in one tight loop over the
  * document bytes (zero token copies — XXH64 over byte ranges) and stay
  * inside whole-stage codegen via a static call.
  */
object SignatureKernels {

  /** MySQL/ClickHouse YEARWEEK mode 0 on days-since-epoch: week starts
    * SUNDAY, week 1 is the first Sunday-started week of the year, and
    * days before it belong to the PREVIOUS year's numbering (CH
    * toYearWeek's default mode).
    */
  def toYearWeek(epochDay: Int): Int = {
    import java.time.LocalDate
    import java.time.temporal.ChronoUnit
    def firstSunday(y: Int): LocalDate = {
      val jan1 = LocalDate.of(y, 1, 1)
      jan1.plusDays((7 - jan1.getDayOfWeek.getValue % 7) % 7)
    }
    val d = LocalDate.ofEpochDay(epochDay.toLong)
    val fs = firstSunday(d.getYear)
    if (!d.isBefore(fs))
      d.getYear * 100 + (ChronoUnit.DAYS.between(fs, d) / 7 + 1).toInt
    else {
      val py = d.getYear - 1
      py * 100 + (ChronoUnit.DAYS.between(firstSunday(py), d) / 7 + 1).toInt
    }
  }

  /** Euclid's gcd on magnitudes; gcd(0,0) = 0 (documented — ClickHouse
    * throws there; a total function beats a throwing one in batch
    * pipelines, and the divergence is stated in the migration guide).
    */
  def gcd(a: Long, b: Long): Long = {
    var x = math.abs(a); var y = math.abs(b)
    while (y != 0L) { val t = x % y; x = y; y = t }
    x
  }

  /** lcm via gcd; 0 when either operand is 0. Divides BEFORE the
    * multiply so the intermediate never overflows when the result fits.
    */
  def lcm(a: Long, b: Long): Long =
    if (a == 0L || b == 0L) 0L else math.abs(a / gcd(a, b) * b)

  private final val Space = ' '.toByte

  /** Offsets of whitespace-delimited tokens in `s`: flat [start0, end0,
    * start1, end1, ...]. Works on raw UTF-8 bytes; multi-byte chars never
    * collide with ASCII space.
    */
  private def tokenOffsets(bytes: Array[Byte]): Array[Int] = {
    val out = new java.util.ArrayList[Int](64)
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(bytes(i))) i += 1
        out.add(start); out.add(i)
      }
    }
    val arr = new Array[Int](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    arr
  }

  @inline private def isWs(b: Byte): Boolean =
    b == Space || b == '\t'.toByte || b == '\n'.toByte || b == '\r'.toByte ||
      b == 0x0b.toByte || b == 0x0c.toByte // \s also matches VT and FF

  private def hashRange(bytes: Array[Byte], from: Int, until: Int, seed: Long): Long =
    XXH64.hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
      until - from, seed)

  /** Portable polynomial fold (PortableHash contract): h = (31h + byte) mod P. */
  private[functions] def polyRange(bytes: Array[Byte], from: Int, until: Int, init: Long): Long = {
    var h = init
    var i = from
    while (i < until) { h = (h * 31 + (bytes(i) & 0xff)) % PortableHash.P; i += 1 }
    h
  }

  @inline private def wordHash(bytes: Array[Byte], from: Int, until: Int): Long =
    polyRange(bytes, from, until, 7L)

  /** Canonical shingle hash: tokens i..i+w-1 folded with a single space
    * byte between them — identical to hashing `array_to_string(slice(ws,
    * i, i+w-1), ' ')`, which is what the DuckDB oracle computes.
    */
  private def shingleHash(bytes: Array[Byte], toks: Array[Int], i: Int, w: Int): Long = {
    val nToks = toks.length / 2
    val last = math.min(i + w - 1, nToks - 1)
    var h = 7L
    var t = i
    while (t <= last) {
      if (t > i) h = (h * 31 + 32) % PortableHash.P
      h = polyRange(bytes, toks(2 * t), toks(2 * t + 1), h)
      t += 1
    }
    h
  }

  /** 64-bit SimHash: majority vote over per-token portable-hash bits
    * (bit j of a word = parity of the j-seeded universal hash of its
    * portable word hash) — reproducible in the DuckDB oracle.
    */
  def simhash64(s: UTF8String): Long = {
    val bytes = s.toLowerCase.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    if (nToks == 0) return 0L
    val counts = new Array[Int](64)
    var t = 0
    while (t < nToks) {
      val h = wordHash(bytes, toks(2 * t), toks(2 * t + 1))
      var b = 0
      while (b < 64) {
        // bit 15 of the seeded hash: the low bit of a multiply-accumulate
        // mod an odd prime has algebraic parity structure (inflates false
        // near-dups ~10×); a middle bit is well mixed.
        if (((PortableHash.seeded(h, b) >> 15) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) >= nToks) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Cosine similarity of two numeric arrays — the SAME sequential
    * left-to-right double fold as the composable
    * `aggregate(zip_with(a, b, (x, y) => x·y))` formulation (and its
    * DuckDB LIST_SUM mirror, VectorLsh.cosSql): identical operations in
    * identical order ⇒ bit-identical doubles, so swapping this kernel in
    * never moves an oracle-compared value. One fused loop computes dot
    * and both norms; no per-element boxing, stays in whole-stage codegen.
    */
  /** Element accessor by type code: 0 = double, 1 = float, 2 = long.
    * Integer elements are exact in double space up to 2^53, so a long
    * array's fold is bit-identical whether accumulated in long or double.
    */
  private def elem(a: ArrayData, i: Int, tc: Int): Double = tc match {
    case 1 => a.getFloat(i).toDouble
    case 2 => a.getLong(i).toDouble
    case _ => a.getDouble(i)
  }

  def cosine(a: ArrayData, b: ArrayData, ta: Int, tb: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, ta)
      val y = elem(b, i, tb)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // trailing elements of a longer vector still feed its own norm —
    // zip_with truncates the dot to the shorter length but the separate
    // norm folds run over each full array
    var j = n
    while (j < a.numElements()) {
      val x = elem(a, j, ta); na += x * x; j += 1
    }
    var k = n
    while (k < b.numElements()) {
      val y = elem(b, k, tb); nb += y * y; k += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Dot product — the plain left-to-right double fold (zip_with
    * truncation semantics), codegen-friendly; the MIPS scoring kernel.
    */
  def dot(a: ArrayData, b: ArrayData, ta: Int, tb: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elem(a, i, ta) * elem(b, i, tb)
      i += 1
    }
    acc
  }

  /** Squared L2 distance — the same sequential fold as
    * `aggregate(zip_with(a, b, (x, y) => (x-y)²))` (zip_with truncates to
    * the shorter array), bit-identical, codegen-friendly.
    */
  def dist2(a: ArrayData, b: ArrayData, ta: Int, tb: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = elem(a, i, ta) - elem(b, i, tb)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Portable rolling document fingerprint: per-token portable word hash
    * over the lowercased text, folded as fp = (31·fp + wh) mod FpM from
    * seed 5381 — order-sensitive, shift-stable, oracle-reproducible.
    */
  def fingerprint(s: UTF8String): Long = {
    val bytes = s.toLowerCase.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    var fp = 5381L
    var t = 0
    while (t < nToks) {
      val wh = wordHash(bytes, toks(2 * t), toks(2 * t + 1))
      fp = (fp * 31 + wh) % PortableHash.FpM
      t += 1
    }
    fp
  }

  /** Portable word hash of every token (PortableHash polynomial fold,
    * seed 7) — the per-token feature-hash stream for hashing-trick
    * featurization; DuckDB mirror is PortableHash.wordHashSql over the
    * same whitespace split.
    */
  def wordHashes(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    val out = new Array[Long](nToks)
    var t = 0
    while (t < nToks) {
      out(t) = wordHash(bytes, toks(2 * t), toks(2 * t + 1))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** xxhash64 of every `w`-token shingle (hash of the raw byte span from
    * token i through token i+w-1) — the inverted-index key stream for
    * n-gram similarity joins, with zero shingle-string construction.
    */
  def shingleHashes(s: UTF8String, w: Int): ArrayData = {
    val bytes = s.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    val nShingles = math.max(nToks - w + 1, if (nToks > 0) 1 else 0)
    val out = new Array[Long](nShingles)
    var i = 0
    while (i < nShingles) {
      val from = toks(2 * i)
      val until = toks(2 * math.min(i + w - 1, nToks - 1) + 1)
      out(i) = hashRange(bytes, from, until, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Dual-fold ~61-bit hash of every FULL `w`-token window (positions
    * 0..nToks-w): the canonical space-joined shingle fold (31 mod P)
    * paired with an independent 131-mod-FpM fold over the same bytes,
    * combined as h1·FpM + h2 — the kernel mirror of
    * PortableHash.wideHashSql applied to `array_to_string(slice(toks, i,
    * w), ' ')`. Rolls both folds in ONE pass over the document bytes (no
    * window-string construction), so the shuffle key for substring-dedup
    * is 8 bytes instead of a ~70-byte concatenated string.
    */
  def windowHashes(s: UTF8String, w: Int): ArrayData = {
    val bytes = s.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    val n = math.max(nToks - w + 1, 0)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h1 = 7L
      var h2 = 7L
      var t = i
      val last = i + w - 1
      while (t <= last) {
        if (t > i) {
          h1 = (h1 * 31 + 32) % PortableHash.P
          h2 = (h2 * 131 + 32) % PortableHash.FpM
        }
        var b = toks(2 * t)
        val until = toks(2 * t + 1)
        while (b < until) {
          val x = bytes(b) & 0xff
          h1 = (h1 * 31 + x) % PortableHash.P
          h2 = (h2 * 131 + x) % PortableHash.FpM
          b += 1
        }
        t += 1
      }
      out(i) = h1 * PortableHash.FpM + h2
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-position char-code folds of every `w`-token shingle of the
    * lowercased, whitespace-split text — the kernel mirror of
    *   aggregate(split(array_join(slice(ws, i, w), ' '), ''), 7L,
    *             (acc, c) -> (acc * 31 + ascii(c)) % P)
    * over ws = filter(split(trim(lower(text)), '\s+'), _ != ''), with
    * max(nTokens − w + 1, 1) positions — the winnowing k-gram stream
    * (dedup_winnow). Bit-identical to the expression chain it replaces
    * (DedupSpec pins equality), including two split() edge semantics:
    * split(sh, '') yields exactly the characters (no trailing empty),
    * but split('', '') is [''] — a single empty-string element whose
    * ascii('') is 0 — so an empty/whitespace-only doc's one shingle
    * folds to (7·31) mod P = 217, not 7. The win is one
    * pass over the document bytes with no shingle-string, char-array,
    * or lambda-fold materialization per position. Multi-byte input
    * folds the Unicode code point, exactly as ascii() does on the
    * single-character strings split('') produces.
    */
  def shingleCharFolds(s: UTF8String, w: Int): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    val n = math.max(nToks - w + 1, 1)
    val out = new Array[Long](n)
    val p = PortableHash.P
    var i = 0
    while (i < n) {
      // no tokens: the shingle string is '' and split('', '') is [''] —
      // one ascii('') = 0 fold step
      var h = if (nToks == 0) (7L * 31) % p else 7L
      val last = math.min(i + w - 1, nToks - 1)
      var t = i
      while (t <= last) {
        if (t > i) h = (h * 31 + 32) % p
        var b = toks(2 * t)
        val until = toks(2 * t + 1)
        while (b < until) {
          val x = bytes(b) & 0xff
          var cp = x
          var len = 1
          if (x >= 0x80) {
            if ((x & 0xe0) == 0xc0) { cp = x & 0x1f; len = 2 }
            else if ((x & 0xf0) == 0xe0) { cp = x & 0x0f; len = 3 }
            else { cp = x & 0x07; len = 4 }
            var k = 1
            while (k < len && b + k < until) {
              cp = (cp << 6) | (bytes(b + k) & 0x3f)
              k += 1
            }
          }
          h = (h * 31 + cp) % p
          b += len
        }
        t += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Word bigram strings in one pass: each bigram is the raw byte span
    * from token i through token i+1 (preserves the original inter-token
    * whitespace; identical to `w1 || ' ' || w2` for single-space text).
    */
  def bigrams(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    val n = math.max(nToks - 1, 0)
    val out = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      val from = toks(2 * i)
      val until = toks(2 * (i + 1) + 1)
      out(i) = UTF8String.fromBytes(bytes, from, until - from)
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[AnyRef]])
  }

  /** k MinHash values over `w`-token shingles: min over the k-seeded
    * portable universal hashes of each canonical shingle hash —
    * reproducible in the DuckDB oracle.
    */
  def minhashSig(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val toks = tokenOffsets(bytes)
    val nToks = toks.length / 2
    val mins = Array.fill(k)(Long.MaxValue)
    // Floor at 1 even for a token-less document: the oracle's RANGE(1,
    // GREATEST(len-w+1,1)+1) always emits at least one (possibly empty)
    // shingle, whose hash is the bare seed fold (7) — shingleHash returns
    // exactly that when the token list is empty, so signatures agree on
    // degenerate inputs instead of sitting at Long.MaxValue.
    val nShingles = math.max(nToks - w + 1, 1)
    var i = 0
    while (i < nShingles) {
      val sh = shingleHash(bytes, toks, i, w)
      var j = 0
      while (j < k) {
        val v = PortableHash.seeded(sh, j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Packed per-word simhash bit lanes for WEIGHTED signature builds:
    * bit b of the word's seeded-hash family (same bit-15 rule as
    * simhash64) lands in 32-bit lane (b&1) of long (b>>1) — 32 longs
    * cover 64 bits. A caller multiplies the whole array by an integer
    * weight (no cross-lane carry while weight < 2^32: each lane holds 0
    * or 1 here) and SUMs arrays per document with 32 plain long-sum
    * aggregates — map-side combining, no 64×-row bit explode. Per-doc
    * lane sums stay exact up to 2^32 total weighted tokens, far past
    * any real document (16-bit lanes would wrap at 64k).
    */
  def bitLanes(s: UTF8String): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val h = polyRange(bytes, 0, bytes.length, 7L)
    val out = new Array[Long](32)
    var b = 0
    while (b < 64) {
      if (((PortableHash.seeded(h, b) >> 15) & 1L) == 1L)
        out(b >> 1) |= 1L << ((b & 1) * 32)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_simhash64(text) → BIGINT */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** graft_shingles(text) → ARRAY<BIGINT> (3-token shingle span hashes) */
case class ShingleHashesExpr(child: Expression, w: Int = 3) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.shingleHashes(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.shingleHashes($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** graft_fingerprint(text) → BIGINT (portable rolling word-hash fold) */
case class FingerprintExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.fingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}

/** graft_wordhashes(text) → ARRAY<BIGINT> (portable per-token word
  * hashes — the hashing-trick feature stream).
  */
case class WordHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.wordHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.wordHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): WordHashesExpr =
    copy(child = newChild)
}

/** graft_winhash(text) → ARRAY<BIGINT> (10-token window dual-fold hashes,
  * one per full window position — the substring-dedup key stream).
  */
case class WindowHashesExpr(child: Expression, w: Int = 10) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.windowHashes(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.windowHashes($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): WindowHashesExpr =
    copy(child = newChild)
}

/** graft_shingle_charfold(text) → ARRAY<BIGINT> (winnowing k-gram
  * char-fold stream; see SignatureKernels.shingleCharFolds).
  */
case class ShingleCharFoldsExpr(child: Expression, w: Int = 3) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.shingleCharFolds(input.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.shingleCharFolds($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): ShingleCharFoldsExpr =
    copy(child = newChild)
}

/** graft_cos(a, b) → DOUBLE — codegen'd cosine similarity over two
  * float/double array columns. Bit-identical to the interpreted
  * zip_with/aggregate fold it replaces (SignatureKernels.cosine), so
  * every oracle-compared `round(cos, 6)` value is unchanged; the win is
  * ~50× on pairwise scoring paths (dedup_semantic, dedup_embedding, ANN
  * re-rank), which evaluate it millions of times per stage.
  */
case class CosineExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def tc(e: Expression): Int = e.dataType match {
    case ArrayType(FloatType, _) => 1
    case ArrayType(LongType, _) => 2
    case _ => 0
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      tc(left), tc(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SignatureKernels.cosine($a, $b, ${tc(left)}, ${tc(right)})")
  override protected def withNewChildrenInternal(newLeft: Expression,
    newRight: Expression): CosineExpr = copy(left = newLeft, right = newRight)
}

/** gcd(a, b) → BIGINT — codegen'd Euclid (ClickHouse gcd; the dialect
  * casts operands to Long at registration). gcd(0,0) = 0, documented.
  */
case class GcdExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.gcd(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SignatureKernels.gcd($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
    newRight: Expression): GcdExpr = copy(left = newLeft, right = newRight)
}

/** lcm(a, b) → BIGINT — codegen'd via gcd; 0 when either operand is 0. */
case class LcmExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.lcm(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SignatureKernels.lcm($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression,
    newRight: Expression): LcmExpr = copy(left = newLeft, right = newRight)
}

/** toYearWeek(date) → INT — CH/MySQL YEARWEEK mode 0 (Sunday weeks;
  * pre-first-Sunday days carry the previous year's numbering).
  */
case class ToYearWeekExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(d: Any): Any =
    SignatureKernels.toYearWeek(d.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, d =>
      s"graft.functions.SignatureKernels.toYearWeek($d)")
  override protected def withNewChildInternal(c: Expression): ToYearWeekExpr =
    copy(child = c)
}

/** byteSize(x) → BIGINT — ClickHouse's in-memory size probe, reporting
  * THIS engine's column widths: fixed types by their Spark width,
  * String as octet length + 9 (CH's varint-length + data contract).
  * Dates are 4 bytes here (Spark DateType) where CH Date is 2 —
  * documented in the migration guide.
  */
case class ByteSizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  private lazy val fixed: Long = child.dataType match {
    case BooleanType | ByteType => 1L
    case ShortType => 2L
    case IntegerType | FloatType | DateType => 4L
    case LongType | DoubleType | TimestampType => 8L
    case StringType | BinaryType => -1L
    case other => throw new IllegalArgumentException(
      s"byteSize: unsupported type ${other.sql} — fixed-width scalars " +
        "and String only")
  }
  override protected def nullSafeEval(v: Any): Any =
    if (fixed >= 0) fixed
    else v match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.numBytes.toLong + 9L
      case b: Array[Byte] => b.length.toLong + 9L
      case _ => fixed
    }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (fixed >= 0) defineCodeGen(ctx, ev, _ => s"${fixed}L")
    else child.dataType match {
      case StringType => defineCodeGen(ctx, ev, s => s"((long) $s.numBytes() + 9L)")
      case _ => defineCodeGen(ctx, ev, s => s"((long) $s.length + 9L)")
    }
  override protected def withNewChildInternal(c: Expression): ByteSizeExpr =
    copy(child = c)
}

/** chChar(b1, b2, …) → STRING — ClickHouse's multi-argument char():
  * each argument is one raw BYTE of the result (mod 256), assembled as
  * UTF-8 — multi-byte characters compose from consecutive byte args.
  * Reached via the `char(` splice (Spark's builtin char is 1-arg).
  */
case class ChCharExpr(children: Seq[Expression]) extends Expression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bytes = new Array[Byte](children.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      bytes(i) = (v.asInstanceOf[Long] & 0xffL).toByte
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes)
  }
  override protected def withNewChildrenInternal(
    newChildren: IndexedSeq[Expression]): ChCharExpr = copy(children = newChildren)
}

/** graft_dot(a, b) → DOUBLE — codegen'd dot product (the MIPS score). */
case class DotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def tc(e: Expression): Int = e.dataType match {
    case ArrayType(FloatType, _) => 1
    case ArrayType(LongType, _) => 2
    case _ => 0
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      tc(left), tc(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SignatureKernels.dot($a, $b, ${tc(left)}, ${tc(right)})")
  override protected def withNewChildrenInternal(newLeft: Expression,
    newRight: Expression): DotExpr = copy(left = newLeft, right = newRight)
}

/** graft_dist2(a, b) → DOUBLE — codegen'd squared L2 distance, the
  * bit-identical kernel form of the zip_with/aggregate fold (used by the
  * IVF assignment stages, which evaluate it |corpus|×|cells| times).
  */
case class Dist2Expr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def tc(e: Expression): Int = e.dataType match {
    case ArrayType(FloatType, _) => 1
    case ArrayType(LongType, _) => 2
    case _ => 0
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      tc(left), tc(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SignatureKernels.dist2($a, $b, ${tc(left)}, ${tc(right)})")
  override protected def withNewChildrenInternal(newLeft: Expression,
    newRight: Expression): Dist2Expr = copy(left = newLeft, right = newRight)
}

/** graft_bigrams(text) → ARRAY<STRING> */
case class BigramsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.bigrams(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.bigrams($c)")
  override protected def withNewChildInternal(newChild: Expression): BigramsExpr =
    copy(child = newChild)
}

/** graft_minhash(text) → ARRAY<BIGINT> (k=16, 3-token shingles) */
case class MinHashSigExpr(child: Expression, k: Int = 16, w: Int = 3)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.minhashSig(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.minhashSig($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** graft_bitlanes(word) → ARRAY<BIGINT>(16) packed simhash bit lanes */
case class BitLanesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(input: Any): Any =
    SignatureKernels.bitLanes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SignatureKernels.bitLanes($c)")
  override protected def withNewChildInternal(newChild: Expression): BitLanesExpr =
    copy(child = newChild)
}

/** Registration — both styles:
  *   - GraftExtensions for spark.sql.extensions=graft.functions.GraftExtensions
  *   - GraftFunctions.register(spark) for imperative installs on a live
  *     session (idempotent; run by every `Tables` constructor).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.ApproxQuantileRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectParser((session, delegate) =>
      new ClickHouseSqlParser(session, delegate))
  }
}

/** graft_crossmom(arr) — generator emitting the (i, j, arr[i]·arr[j])
  * upper-triangle pair products of an integer-grid vector: the
  * cross-moment pass of embed_covariance / embed_pca_power in ONE
  * tight loop. The composable form (explode of flatten of nested
  * indexed transforms) materializes d²/2 structs through INTERPRETED
  * higher-order lambdas per row — measured 3-4 s of pure lambda
  * dispatch at sf0.1 (r10 verdict #4); this emits the same rows from
  * a primitive loop. Same Generate → HashAggregate plan shape, so the
  * map-side combine into the fixed d²/2 key space is unchanged.
  */
case class CrossMomentsExpr(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Generator
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types.{StructField, StructType}
  override def elementSchema: StructType = StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("p", LongType, nullable = false)))
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
    : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val arr = child.eval(input)
    if (arr == null) Nil
    else {
      val a = arr.asInstanceOf[ArrayData].toLongArray()
      val d = a.length
      val out = new Array[org.apache.spark.sql.catalyst.InternalRow](
        d * (d - 1) / 2)
      var idx = 0
      var i = 0
      while (i < d) {
        val ai = a(i)
        var j = i + 1
        while (j < d) {
          out(idx) = org.apache.spark.sql.catalyst.InternalRow(
            i.toLong, j.toLong, ai * a(j))
          idx += 1
          j += 1
        }
        i += 1
      }
      out
    }
  }
  override protected def withNewChildInternal(c: Expression): CrossMomentsExpr =
    copy(child = c)
}

object GraftFunctions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every graft_* function. GraftExtensions injects exactly this list
    * and `register` installs it, so the two surfaces cannot diverge. */
  val all: Seq[Descriptor] = Seq(
    fn("graft_simhash64", classOf[SimHash64Expr])(a => SimHash64Expr(a.head)),
    fn("graft_minhash", classOf[MinHashSigExpr])(a => MinHashSigExpr(a.head)),
    fn("graft_shingles", classOf[ShingleHashesExpr])(a => ShingleHashesExpr(a.head)),
    fn("graft_bigrams", classOf[BigramsExpr])(a => BigramsExpr(a.head)),
    fn("graft_fingerprint", classOf[FingerprintExpr])(a => FingerprintExpr(a.head)),
    fn("graft_wordhashes", classOf[WordHashesExpr])(a => WordHashesExpr(a.head)),
    fn("graft_bitlanes", classOf[BitLanesExpr])(a => BitLanesExpr(a.head)),
    fn("graft_winhash", classOf[WindowHashesExpr])(a => WindowHashesExpr(a.head)),
    fn("graft_shingle_charfold", classOf[ShingleCharFoldsExpr])(a => ShingleCharFoldsExpr(a.head)),
    fn("graft_cos", classOf[CosineExpr])(a => CosineExpr(a(0), a(1))),
    fn("graft_dist2", classOf[Dist2Expr])(a => Dist2Expr(a(0), a(1))),
    fn("graft_dot", classOf[DotExpr])(a => DotExpr(a(0), a(1))),
    fn("graft_crossmom", classOf[CrossMomentsExpr])(a => CrossMomentsExpr(a.head)),
    fn("graft_unigram_seg", classOf[UnigramSegExpr])(a => UnigramSegExpr(a(0), a(1), a(2), a(3))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }
}
