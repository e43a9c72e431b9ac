package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row byte-walk statistics over document text — the round-13 batch
  * of codegen scalar expressions that replace the three interpreted
  * string/regex chains the consume-based re-baseline exposed as the
  * costliest map-only scans at sf10full (t04 60.9 s, t08 70.5 s,
  * t11 39.4 s — VERDICT r12 `weak` rows). Same design contract as
  * [[TrigramH31]]/[[BigramCodes]]/[[CanonText]]: each expression is
  * value-identical (spec-pinned, TextWalksSpec) to the declarative form
  * it replaces, so the DuckDB oracle keeps its original SQL formulation
  * and the correctness gate stays exact; the win is ONE walk over the
  * row's bytes/tokens with zero per-window/per-token Catalyst string
  * materialization, inside whole-stage codegen.
  */
object TextWalks extends Serializable {
  // NOT a case-class companion (unlike TrigramH31/BigramCodes), so
  // Serializable must be explicit: codegen ships this module in the
  // task's `references` array. Scala 2.13 serializes modules as a
  // ModuleSerializationProxy stub — fields (the ThreadLocal digest)
  // are never written.

  private val md5tl = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Tiny open-addressed set of non-negative longs (linear probing,
    * power-of-two capacity). Both users store values ≥ 0 (h31 codes and
    * packed 21-bit token-id triples), so −1 is a safe empty sentinel.
    * Returns true when the value was newly inserted. */
  private final class PosLongSet(expected: Int) {
    private var cap = Integer.highestOneBit(math.max(16, expected * 2) - 1) << 1
    private var mask = cap - 1
    private var slots = {
      val a = new Array[Long](cap)
      java.util.Arrays.fill(a, -1L)
      a
    }
    private var n = 0

    def add(v: Long): Boolean = {
      var i = (java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L) & mask)
      while (true) {
        val s = slots(i)
        if (s == v) return false
        if (s == -1L) {
          slots(i) = v
          n += 1
          if (n * 4 > cap * 3) grow()
          return true
        }
        i = (i + 1) & mask
      }
      false // unreachable
    }

    def size: Int = n

    private def grow(): Unit = {
      val old = slots
      cap <<= 1
      mask = cap - 1
      slots = new Array[Long](cap)
      java.util.Arrays.fill(slots, -1L)
      var i = 0
      while (i < old.length) {
        val v = old(i)
        if (v != -1L) {
          var j = (java.lang.Long.hashCode(v * 0x9e3779b97f4a7c15L) & mask)
          while (slots(j) != -1L) j = (j + 1) & mask
          slots(j) = v
        }
        i += 1
      }
    }
  }

  /** Java-regex `\s` is exactly the ASCII class `[ \t\n\x0B\f\r]`, and
    * every one of those bytes IS that character in UTF-8 (multi-byte
    * sequences use bytes ≥ 0x80 only) — so splitting on raw UTF-8 bytes
    * reproduces `String.split("\\s+", -1)` exactly, without decoding to
    * UTF-16 or running the regex engine. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Token boundaries of the byte-level `\s+` split with limit −1:
    * writes (start, end) offset pairs into `offs` (flattened), returns
    * the token count. Semantics match String.split: a leading separator
    * run yields a leading empty token, a trailing run a trailing empty
    * token, and the empty string one empty token. */
  private[functions] def splitOffsets(b: Array[Byte], offs0: Array[Int]): (Array[Int], Int) = {
    var offs = offs0
    var nt = 0
    var tokStart = 0
    var i = 0
    val len = b.length
    while (i < len) {
      if (isWs(b(i))) {
        if (2 * nt + 2 > offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
        offs(2 * nt) = tokStart; offs(2 * nt + 1) = i; nt += 1
        while (i < len && isWs(b(i))) i += 1
        tokStart = i
      } else i += 1
    }
    if (2 * nt + 2 > offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
    offs(2 * nt) = tokStart; offs(2 * nt + 1) = len; nt += 1
    (offs, nt)
  }

  // -------------------------------------------------------------------
  // graft_ngram_fp(text, n)
  // -------------------------------------------------------------------

  /** Fingerprint stats of the word-n-gram window stream: value-identical
    * to t04's declarative chain (TextAnalysis.scala r12 form)
    *
    * {{{
    *   w   = split(text, '\\s+')                      -- limit -1
    *   hs  = transform(windows of n tokens, h31(concat_ws(' ', …)))
    *   row = (array_min(hs), size(hs), size(array_distinct(hs)))
    * }}}
    *
    * computed in one walk: tokens are UTF-8-encoded once, each window
    * feeds an incremental md5 (no window string exists), and min/count/
    * distinct fold inline (distinct via an open-addressed long set over
    * the h31 codes — the SAME domain the oracle's `count(DISTINCT h)`
    * counts, so parity is exact, not probabilistic). A doc with fewer
    * than n tokens yields the (0, 0, 0) row — the caller's
    * `n_windows > 0` filter replicates the old `size(w) >= n` guard. */
  private val ZeroFp = new GenericInternalRow(Array[Any](0L, 0L, 0L))

  def ngramFp(s: UTF8String, n: Int): InternalRow = {
    val b = s.getBytes
    // tokenize on raw bytes (exact String.split("\\s+", -1) semantics —
    // see splitOffsets) and hash each window straight out of the text
    // buffer: md5 updates take (buf, start, len) slices, so neither a
    // token nor a window string is ever allocated. The hashed byte
    // stream is identical to concat_ws(' ', slice(w, i, n)) — tokens
    // joined by single spaces, empty edge tokens contributing only
    // their joining space — which TextWalksSpec pins against the
    // declarative chain.
    val (offs, nt) = splitOffsets(b, new Array[Int](64))
    if (nt < n) return ZeroFp
    val nWin = nt - n + 1
    val seen = new PosLongSet(math.min(nWin, 1 << 16))
    var minH = Long.MaxValue
    var distinct = 0
    // assemble each window into a reused buffer and hash it with the
    // single-block md5 (Md5H60) — no MessageDigest per-call overhead
    var win = new Array[Byte](256)
    var i = 0
    while (i < nWin) {
      var wlen = 0
      var j = 0
      while (j < n) {
        val t = i + j
        val tl = offs(2 * t + 1) - offs(2 * t)
        if (wlen + tl + 1 > win.length)
          win = java.util.Arrays.copyOf(win, math.max(win.length * 2, wlen + tl + 1))
        if (j > 0) { win(wlen) = ' '; wlen += 1 }
        System.arraycopy(b, offs(2 * t), win, wlen, tl)
        wlen += tl
        j += 1
      }
      val h31 = Md5H60.hash60(win, 0, wlen) % SharedHash.P31
      if (h31 < minH) minH = h31
      if (seen.add(h31)) distinct += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](minH, nWin.toLong, distinct.toLong))
  }

  // -------------------------------------------------------------------
  // graft_ngram_h60(text, n)
  // -------------------------------------------------------------------

  private val EmptyCodes =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])

  /** The word-n-gram window stream as h60 codes, one per position
    * (duplicates kept) — the n-parametric generalization of
    * `graft_trigram_h60`. Value-identical to
    * `transform(windows, hash60(concat_ws(' ', …)))` over the
    * `split(text, '\\s+')` token array; d12/d20 key their span
    * df-counts and kill-list joins on these codes (8-byte shuffle keys
    * instead of multi-word span strings), with the DuckDB oracle
    * computing the same md5-derived value in SQL — both sides hash, so
    * parity is exact; two DISTINCT spans colliding (≈2⁻⁶⁰) is the same
    * accepted caveat as d17's sketch keys. */
  def ngramH60(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = s.getBytes
    val (offs, nt) = splitOffsets(b, new Array[Int](64))
    if (nt < n) return EmptyCodes
    val out = new Array[Long](nt - n + 1)
    var win = new Array[Byte](256)
    var i = 0
    while (i < out.length) {
      var wlen = 0
      var j = 0
      while (j < n) {
        val t = i + j
        val tl = offs(2 * t + 1) - offs(2 * t)
        if (wlen + tl + 1 > win.length)
          win = java.util.Arrays.copyOf(win, math.max(win.length * 2, wlen + tl + 1))
        if (j > 0) { win(wlen) = ' '; wlen += 1 }
        System.arraycopy(b, offs(2 * t), win, wlen, tl)
        wlen += tl
        j += 1
      }
      out(i) = Md5H60.hash60(win, 0, wlen)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  // -------------------------------------------------------------------
  // graft_rep_stats(text)
  // -------------------------------------------------------------------

  /** Word/trigram repetition stats — value-identical to t08's exploded
    * two-aggregate form, with EXACT string semantics and no hashing:
    *
    *   n_words             = size(split(text, '\\s+'))       (total tokens)
    *   max_word_freq       = max per-token count
    *   n_trigrams          = max(0, n_words − 2)
    *   n_distinct_trigrams = count of distinct space-joined token triples
    *
    * Distinctness of a joined trigram equals distinctness of its token
    * triple (tokens are whitespace-free, so the single-space join is
    * injective), so trigram dedup runs on packed 21-bit token-id triples
    * from ONE per-row token-id map — no trigram string, no md5, no
    * collision caveat. Docs beyond 2^21 tokens (≫ any real document row;
    * a 2M-token doc is ~10 MB of text) fall back to joined-string dedup
    * for unconditional exactness. */
  def repStats(s: UTF8String): InternalRow = {
    val tokens = s.toString.split("\\s+", -1)
    val n = tokens.length
    val ids = new java.util.HashMap[String, Integer](math.min(n * 2, 1 << 16))
    val tokId = new Array[Int](n)
    var counts = new Array[Int](math.min(math.max(16, n), 1 << 16))
    var nid = 0
    var maxFreq = 0L
    var i = 0
    while (i < n) {
      var id = ids.putIfAbsent(tokens(i), Integer.valueOf(nid)) match {
        case null => nid += 1; nid - 1
        case boxed => boxed.intValue()
      }
      if (id >= counts.length) counts = java.util.Arrays.copyOf(counts, counts.length * 2)
      counts(id) += 1
      if (counts(id) > maxFreq) maxFreq = counts(id)
      tokId(i) = id
      i += 1
    }
    val nTri = math.max(0, n - 2)
    var nDistinctTri = 0L
    if (nTri > 0) {
      if (nid < (1 << 21)) {
        val seen = new PosLongSet(math.min(nTri, 1 << 16))
        var d = 0
        i = 0
        while (i < nTri) {
          val key = (tokId(i).toLong << 42) | (tokId(i + 1).toLong << 21) | tokId(i + 2).toLong
          if (seen.add(key)) d += 1
          i += 1
        }
        nDistinctTri = d
      } else {
        val seen = new java.util.HashSet[String]()
        i = 0
        while (i < nTri) {
          seen.add(tokens(i) + " " + tokens(i + 1) + " " + tokens(i + 2))
          i += 1
        }
        nDistinctTri = seen.size.toLong
      }
    }
    new GenericInternalRow(Array[Any](n.toLong, maxFreq, nTri.toLong, nDistinctTri))
  }

  // -------------------------------------------------------------------
  // graft_strip_spans(text, starts, n)
  // -------------------------------------------------------------------

  /** Rebuild a document with the word-n-gram spans starting at the given
    * 1-based token positions removed — d20's per-document strip as ONE
    * walk, replacing the kill-list position explode → word posexplode →
    * anti-join → sorted-collect_list rebuild (which shuffled every word
    * of every document to reunite rows that never had to leave it).
    * Returns (n_words, n_dropped, text): identity text (the ORIGINAL
    * string object, no re-join) when nothing is dropped; kept tokens
    * joined by single spaces otherwise (a fully-boilerplate doc becomes
    * ''). Value-identical to the declarative form — TextWalksSpec pins
    * it against an independent reference on random kill sets. */
  def stripSpans(s: UTF8String, starts: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): InternalRow = {
    val b = s.getBytes
    val (offs, nt) = splitOffsets(b, new Array[Int](64))
    val nStarts = starts.numElements()
    if (nStarts == 0)
      return new GenericInternalRow(Array[Any](nt.toLong, 0L, s))
    val kill = new Array[Boolean](nt)
    var i = 0
    while (i < nStarts) {
      val st = starts.getInt(i) - 1 // to 0-based token index
      // graft_strip_spans is a registered SQL function, so arbitrary user
      // SQL can pass starts <= 0 (or null elements, which UnsafeArrayData
      // reads as 0): clamp to the first token instead of indexing kill()
      // negatively. Positions past the end fall out of the loop bound.
      var j = math.max(0, st)
      val end = math.min(st + n, nt)
      while (j < end) { kill(j) = true; j += 1 }
      i += 1
    }
    var kept = 0
    var outLen = 0
    i = 0
    while (i < nt) {
      if (!kill(i)) { kept += 1; outLen += offs(2 * i + 1) - offs(2 * i) }
      i += 1
    }
    if (kept == nt)
      return new GenericInternalRow(Array[Any](nt.toLong, 0L, s))
    if (kept == 0)
      return new GenericInternalRow(Array[Any](nt.toLong, nt.toLong, UTF8String.EMPTY_UTF8))
    val out = new Array[Byte](outLen + kept - 1)
    var dst = 0
    var first = true
    i = 0
    while (i < nt) {
      if (!kill(i)) {
        if (!first) { out(dst) = ' '; dst += 1 }
        first = false
        val tl = offs(2 * i + 1) - offs(2 * i)
        System.arraycopy(b, offs(2 * i), out, dst, tl)
        dst += tl
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](nt.toLong, (nt - kept).toLong, UTF8String.fromBytes(out)))
  }

  // -------------------------------------------------------------------
  // graft_token_counts(text)
  // -------------------------------------------------------------------

  /** One pass over the UTF-8 bytes computing the four per-row counting
    * primitives t02/t03 project, value-identical to:
    *
    *   ws_tokens    = size(split(text, '\\s+'))   — #ws runs + 1 (limit
    *                  −1 keeps the empty edge tokens; '' has 1 token)
    *   regex_tokens = size(regexp_extract_all(text,
    *                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
    *                  — ordered alternation: a maximal ASCII letter run
    *                  is one token, else a maximal digit run, else ONE
    *                  character of anything that isn't alnum/ws (incl.
    *                  any non-ASCII char — counted once per character
    *                  by skipping UTF-8 continuation bytes)
    *   n_chars      = length(text)                — character count
    *   n_ws_chars   = #whitespace chars (all ASCII, 1 byte = 1 char),
    *                  so length(regexp_replace(text, '\\s+', '')) =
    *                  n_chars − n_ws_chars
    */
  def tokenCounts(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val len = b.length
    var wsRuns = 0L
    var regexTokens = 0L
    var nChars = 0L
    var nWs = 0L
    var i = 0
    while (i < len) {
      val c = b(i)
      if (isWs(c)) {
        wsRuns += 1
        while (i < len && isWs(b(i))) { nWs += 1; nChars += 1; i += 1 }
      } else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        regexTokens += 1
        while (i < len && ((b(i) >= 'a' && b(i) <= 'z') || (b(i) >= 'A' && b(i) <= 'Z'))) {
          nChars += 1; i += 1
        }
      } else if (c >= '0' && c <= '9') {
        regexTokens += 1
        while (i < len && b(i) >= '0' && b(i) <= '9') { nChars += 1; i += 1 }
      } else {
        // one regex token per CHARACTER: count the sequence-start byte,
        // skip continuation bytes (0x80..0xBF)
        if ((c & 0xc0) != 0x80) { regexTokens += 1; nChars += 1 }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](wsRuns + 1L, regexTokens, nChars, nWs))
  }

  // -------------------------------------------------------------------
  // graft_pii_stats(text)
  // -------------------------------------------------------------------
  // Patterns (TextAnalysis.EmailRe/PhoneRe/AcctRe — the Java∩RE2 subset):
  //   email: [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}
  //   phone: [0-9]{3}-[0-9]{3}-[0-9]{4}
  //   acct:  [0-9]{9}
  // All three match only ASCII characters, and in UTF-8 every ASCII byte
  // IS that character (multi-byte sequences use bytes ≥ 0x80 only), so a
  // byte-level scan finds exactly the matches a char-level
  // java.util.regex scan finds, at identical positions in identical
  // order — TextWalksSpec pins equality against the real regex chain on
  // random PII soup.

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isAlpha(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')
  @inline private def isLocal(b: Byte): Boolean = // [A-Za-z0-9._%+-]
    isAlpha(b) || isDigit(b) || b == '.' || b == '_' || b == '%' || b == '+' || b == '-'
  @inline private def isDomain(b: Byte): Boolean = // [A-Za-z0-9.-]
    isAlpha(b) || isDigit(b) || b == '.' || b == '-'

  /** Email `find()` loop — replicates java.util.regex semantics for the
    * pattern above exactly (argument for each step in TextWalksSpec):
    * leftmost match start = the beginning of the maximal local-char run
    * ending at an '@' (clipped at the previous match end); the local run
    * can never succeed from a later start once the '@'-anchored attempt
    * fails (the run ends at the same '@' for every start inside it); the
    * domain backtracks `[A-Za-z0-9.-]+` from longest, i.e. the LARGEST
    * dot position followed by ≥ 2 letters wins; the trailing `{2,}` is
    * greedy, so the match ends at the end of that letter run. */
  private def scanEmails(b: Array[Byte], emit: (Int, Int) => Unit): Int = {
    val len = b.length
    var count = 0
    var pos = 0
    while (pos < len) {
      // next '@' usable as the anchor: needs ≥1 local char before it
      var j = pos + 1
      while (j < len && b(j) != '@') j += 1
      if (j >= len) return count
      var a = j
      while (a > pos && isLocal(b(a - 1))) a -= 1
      if (a == j) { pos = j + 1 } // empty local part
      else {
        var k = j + 1
        while (k < len && isDomain(b(k))) k += 1
        if (k == j + 1) { pos = j + 1 } // empty domain
        else {
          var m = k - 1
          var end = -1
          while (m >= j + 2 && end < 0) {
            if (b(m) == '.') {
              var t = m + 1
              while (t < len && isAlpha(b(t))) t += 1
              if (t - m - 1 >= 2) end = t
            }
            if (end < 0) m -= 1
          }
          if (end < 0) { pos = j + 1 }
          else { emit(a, end); count += 1; pos = end }
        }
      }
    }
    count
  }

  /** Phone `find()` loop — `[0-9]{3}-[0-9]{3}-[0-9]{4}` has no
    * backtracking freedom: try each start, advance past a match. */
  private def scanPhones(b: Array[Byte], emit: (Int, Int) => Unit): Int = {
    val len = b.length
    var count = 0
    var i = 0
    while (i + 12 <= len) {
      if (isDigit(b(i)) && isDigit(b(i + 1)) && isDigit(b(i + 2)) && b(i + 3) == '-' &&
          isDigit(b(i + 4)) && isDigit(b(i + 5)) && isDigit(b(i + 6)) && b(i + 7) == '-' &&
          isDigit(b(i + 8)) && isDigit(b(i + 9)) && isDigit(b(i + 10)) && isDigit(b(i + 11))) {
        emit(i, i + 12); count += 1; i += 12
      } else i += 1
    }
    count
  }

  /** Acct `find()` loop — `[0-9]{9}`: exactly nine digits, leftmost,
    * non-overlapping (an 18-digit run yields two matches, 17 yields one —
    * the same as the regex). */
  private def scanAccts(b: Array[Byte], emit: (Int, Int) => Unit): Int = {
    val len = b.length
    var count = 0
    var i = 0
    while (i + 9 <= len) {
      var j = 0
      while (j < 9 && isDigit(b(i + j))) j += 1
      if (j == 9) { emit(i, i + 9); count += 1; i += 9 }
      else i += j + 1 // b(i+j) is not a digit: no 9-run can start at or before it
    }
    count
  }

  private def redact(b: Array[Byte], spans: java.util.ArrayList[Int],
      replacement: Array[Byte]): Array[Byte] = {
    if (spans.isEmpty) return b
    val nSpans = spans.size / 2
    var outLen = b.length + nSpans * replacement.length
    var i = 0
    while (i < nSpans) { outLen -= spans.get(2 * i + 1) - spans.get(2 * i); i += 1 }
    val out = new Array[Byte](outLen)
    var src = 0
    var dst = 0
    i = 0
    while (i < nSpans) {
      val s = spans.get(2 * i)
      val e = spans.get(2 * i + 1)
      System.arraycopy(b, src, out, dst, s - src); dst += s - src
      System.arraycopy(replacement, 0, out, dst, replacement.length); dst += replacement.length
      src = e
      i += 1
    }
    System.arraycopy(b, src, out, dst, b.length - src)
    out
  }

  private val EmailTag = "<EMAIL>".getBytes(StandardCharsets.UTF_8)
  private val PhoneTag = "<PHONE>".getBytes(StandardCharsets.UTF_8)
  private val AcctTag = "<ACCT>".getBytes(StandardCharsets.UTF_8)
  private val HexDigits = "0123456789abcdef".toCharArray

  /** PII stats — value-identical to t11's declarative form: each count
    * scans the ORIGINAL text (`regexp_extract_all(text, …)` semantics);
    * the redaction is SEQUENTIAL (`regexp_replace(regexp_replace(
    * regexp_replace(text, email), phone), acct)`), so the phone/acct
    * redaction passes run over the previous pass's output — which is why
    * phone and acct each scan twice (count on original, redact on the
    * running text). Five byte-scans total, zero regex machinery, and the
    * redacted text never leaves this function: its md5 hex (what t11
    * ships) is computed here. */
  def piiStats(s: UTF8String): InternalRow = {
    val original = s.getBytes
    val emailSpans = new java.util.ArrayList[Int]()
    val nEmails = scanEmails(original, (a, b) => { emailSpans.add(a); emailSpans.add(b) })
    val nPhones = scanPhones(original, (_, _) => ())
    val nAccts = scanAccts(original, (_, _) => ())
    val r1 = redact(original, emailSpans, EmailTag)
    val phoneSpans = new java.util.ArrayList[Int]()
    scanPhones(r1, (a, b) => { phoneSpans.add(a); phoneSpans.add(b) })
    val r2 = redact(r1, phoneSpans, PhoneTag)
    val acctSpans = new java.util.ArrayList[Int]()
    scanAccts(r2, (a, b) => { acctSpans.add(a); acctSpans.add(b) })
    val r3 = redact(r2, acctSpans, AcctTag)
    val d = md5tl.get().digest(r3)
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = HexDigits((d(i) >> 4) & 0xf).toByte
      hex(2 * i + 1) = HexDigits(d(i) & 0xf).toByte
      i += 1
    }
    new GenericInternalRow(Array[Any](nEmails.toLong, nPhones.toLong, nAccts.toLong,
      UTF8String.fromBytes(hex)))
  }
}

/** `graft_ngram_fp(text, n)` → struct(fingerprint, n_windows,
  * n_distinct_windows) — see [[TextWalks.ngramFp]]. `n` must be a
  * foldable integer ≥ 1. A doc with fewer than n tokens yields the
  * (0, 0, 0) row; null text yields null. */
case class NgramFpStats(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, IntegerType) if right.foldable =>
      val n = right.eval().asInstanceOf[Integer]
      if (n == null || n < 1)
        TypeCheckResult.TypeCheckFailure("graft_ngram_fp: n must be a literal integer >= 1")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram_fp expects (string, literal int), got $other")
  }

  private lazy val n: Int = right.eval().asInstanceOf[Integer].intValue()

  override def dataType: DataType = StructType(Seq(
    StructField("fingerprint", LongType, nullable = false),
    StructField("n_windows", LongType, nullable = false),
    StructField("n_distinct_windows", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_ngram_fp"

  override def nullSafeEval(t: Any, unused: Any): Any =
    TextWalks.ngramFp(t.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      val helper = ctx.addReferenceObj("textWalks", TextWalks, "graft.functions.TextWalks$")
      s"${ev.value} = (InternalRow) $helper.ngramFp($t, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramFpStats =
    copy(left = newLeft, right = newRight)
}

/** `graft_ngram_h60(text, n)` → array<long> of per-position window h60
  * codes — see [[TextWalks.ngramH60]]. `n` must be a foldable integer
  * ≥ 1; fewer than n tokens → empty array; null text → null. */
case class NgramH60Stream(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, IntegerType) if right.foldable =>
      val n = right.eval().asInstanceOf[Integer]
      if (n == null || n < 1)
        TypeCheckResult.TypeCheckFailure("graft_ngram_h60: n must be a literal integer >= 1")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram_h60 expects (string, literal int), got $other")
  }

  private lazy val n: Int = right.eval().asInstanceOf[Integer].intValue()

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_ngram_h60"

  override def nullSafeEval(t: Any, unused: Any): Any =
    TextWalks.ngramH60(t.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, _) => {
      val helper = ctx.addReferenceObj("textWalks", TextWalks, "graft.functions.TextWalks$")
      s"${ev.value} = (ArrayData) $helper.ngramH60($t, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramH60Stream =
    copy(left = newLeft, right = newRight)
}

/** `graft_rep_stats(text)` → struct(n_words, max_word_freq, n_trigrams,
  * n_distinct_trigrams) — see [[TextWalks.repStats]]. */
case class RepStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rep_stats expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("max_word_freq", LongType, nullable = false),
    StructField("n_trigrams", LongType, nullable = false),
    StructField("n_distinct_trigrams", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_rep_stats"

  override def nullSafeEval(input: Any): Any =
    TextWalks.repStats(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = ctx.addReferenceObj("textWalks", TextWalks, "graft.functions.TextWalks$")
      s"${ev.value} = (InternalRow) $helper.repStats($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): RepStats =
    copy(child = newChild)
}

/** `graft_strip_spans(text, starts, n)` → struct(n_words, n_dropped,
  * text) — see [[TextWalks.stripSpans]]. `starts` is an array<int> of
  * 1-based span start positions (null-free); `n` a foldable int ≥ 1. */
case class StripSpans(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, ArrayType(IntegerType, _), IntegerType) if third.foldable =>
        val n = third.eval().asInstanceOf[Integer]
        if (n == null || n < 1)
          TypeCheckResult.TypeCheckFailure("graft_strip_spans: n must be a literal integer >= 1")
        else TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_strip_spans expects (string, array<int>, literal int), got $other")
    }

  private lazy val n: Int = third.eval().asInstanceOf[Integer].intValue()

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_dropped", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_strip_spans"

  override def nullSafeEval(t: Any, st: Any, unused: Any): Any =
    TextWalks.stripSpans(t.asInstanceOf[UTF8String],
      st.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, st, _) => {
      val helper = ctx.addReferenceObj("textWalks", TextWalks, "graft.functions.TextWalks$")
      s"${ev.value} = (InternalRow) $helper.stripSpans($t, $st, $n);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): StripSpans =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `graft_token_counts(text)` → struct(ws_tokens, regex_tokens, n_chars,
  * n_ws_chars) — see [[TextWalks.tokenCounts]]. */
case class TokenCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_token_counts expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("ws_tokens", LongType, nullable = false),
    StructField("regex_tokens", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_ws_chars", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_token_counts"

  override def nullSafeEval(input: Any): Any =
    TextWalks.tokenCounts(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = ctx.addReferenceObj("textWalks", TextWalks, "graft.functions.TextWalks$")
      s"${ev.value} = (InternalRow) $helper.tokenCounts($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

/** `graft_pii_stats(text)` → struct(n_emails, n_phones, n_accts,
  * redacted_hash) — see [[TextWalks.piiStats]]. */
case class PiiStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pii_stats expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false),
    StructField("n_accts", LongType, nullable = false),
    StructField("redacted_hash", StringType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pii_stats"

  override def nullSafeEval(input: Any): Any =
    TextWalks.piiStats(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = ctx.addReferenceObj("textWalks", TextWalks, "graft.functions.TextWalks$")
      s"${ev.value} = (InternalRow) $helper.piiStats($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): PiiStats =
    copy(child = newChild)
}
