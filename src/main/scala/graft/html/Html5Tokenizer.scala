package graft.html

/** A start tag, the tokenizer's one materialized event. The span is the
  * BYTE span [startByte, endByte) it was decoded from, so downstream
  * span offsets always index into the original payload (BASELINE.json:
  * "per-url extracted text and span offsets").
  */
final case class TagOpen(name: String, attrs: List[(String, String)],
    selfClosing: Boolean, startByte: Int, endByte: Int) {
  /** Allocation-free attribute lookup; "" when absent. */
  def attrOrEmpty(k: String): String = {
    var cur = attrs
    while (cur.nonEmpty) { if (cur.head._1 == k) return cur.head._2; cur = cur.tail }
    ""
  }
}

/** Decoded characters plus a char-index → byte-offset map. `nChars` is
  * the logical length (the arrays may be oversized reusable scratch);
  * off(nChars) = total byte length. When `identityOffs` (single-byte
  * charsets, pure-ASCII UTF-8 — the common crawl case) the offset array
  * is never materialized: char index == byte offset. */
final class Decoded(val chars: Array[Char], val byteOff: Array[Int], val nChars: Int,
    val identityOffs: Boolean = false) {
  @inline def off(i: Int): Int = if (identityOffs) i else byteOff(i)
}

/** From-scratch HTML5-style tokenizer (data / tag / attribute / comment /
  * doctype / RAWTEXT / RCDATA / CDATA states), lenient on hostile bytes:
  * never throws, unterminated constructs are flushed at EOF. Tag and
  * attribute names come from `Tags.intern`, and which start tags open a
  * RAWTEXT or RCDATA state is `Tags.flags` — `Tags` owns every tag role.
  *
  * Replaces the reference's image-decode front end
  * (GOT/demo/run_ocr_2.0.py:35-41) with the web-payload analog mandated by
  * BASELINE.json (streaming HTML5 tokenizer over Common-Crawl pages).
  */
object Html5Tokenizer {

  /** Sniff charset from a `charset=` occurrence in the head bytes;
    * defaults to UTF-8. Supported: utf-8, iso-8859-1/latin-1, windows-1252
    * (decoded as latin-1 superset; the 0x80-0x9f block maps via cp1252).
    *
    * r6: the match position is found with an allocation-free
    * ASCII-case-insensitive byte scan — the old form decoded + lowercased
    * a 2 KB head String per document (~5% of kernel in the JFR profile);
    * only the tiny value window after a hit is decoded now. The scan
    * matches exactly where `ISO-8859-1-decode → toLowerCase → indexOf`
    * matched: the pattern is pure ASCII, and Latin-1 case mapping is
    * 1:1 in length, so positions coincide and non-ASCII bytes (whose
    * lowercase forms stay outside ASCII) never alias into the pattern. */
  private final val CharsetLit = "charset=".toCharArray
  def sniffCharset(bytes: Array[Byte]): String = {
    val n = math.min(bytes.length, 2048)
    var i = 0
    val last = n - CharsetLit.length
    var found = -1
    while (found < 0 && i <= last) {
      var k = 0
      var ok = true
      while (ok && k < CharsetLit.length) {
        val b = bytes(i + k) & 0xff
        val c = CharsetLit(k)
        // letters match case-insensitively (ASCII only); '=' exactly
        if (b != c && !(c >= 'a' && c <= 'z' && b == c - 32)) ok = false
        k += 1
      }
      if (ok) found = i
      i += 1
    }
    if (found < 0) return "utf-8"
    // decode just the value window with the ORIGINAL parse rules (quote
    // skip + isLetterOrDigit/-/_ run). Known charset names are < 16
    // chars; a window of 40 covers every match-or-reject identically
    // (a letter run longer than the window cannot equal a known name
    // either way — both paths fall through to utf-8).
    val ws = found + CharsetLit.length
    val we = math.min(ws + 40, n)
    val head = new String(bytes, ws, we - ws, java.nio.charset.StandardCharsets.ISO_8859_1).toLowerCase
    var j = 0
    if (j < head.length && (head.charAt(j) == '"' || head.charAt(j) == '\'')) j += 1
    val start = j
    while (j < head.length && (head.charAt(j).isLetterOrDigit || head.charAt(j) == '-' || head.charAt(j) == '_')) j += 1
    head.substring(start, j) match {
      case "iso-8859-1" | "latin-1" | "latin1" => "iso-8859-1"
      case "windows-1252" | "cp1252"           => "windows-1252"
      case _                                   => "utf-8"
    }
  }

  private val cp1252High: Array[Char] = Array(
    '€', '', '‚', 'ƒ', '„', '…', '†', '‡',
    'ˆ', '‰', 'Š', '‹', 'Œ', '', 'Ž', '',
    '', '‘', '’', '“', '”', '•', '–', '—',
    '˜', '™', 'š', '›', 'œ', '', 'ž', 'Ÿ')

  /** Charset sniff + lenient decode with byte-offset tracking, into the
    * scratch's `decChars`/`decOffs`: the decoder's 6-bytes-per-input-byte
    * transient allocation was the kernel's dominant GC pressure at high
    * parallelism (allocation-stall measured at local[32]), and the
    * tokenizer consumes the Decoded fully before the next document.
    * Also timed alone by `graft.Probe kernel phase`. Invalid UTF-8
    * sequences become U+FFFD advancing one byte (never throws). */
  private[graft] def decode(bytes: Array[Byte], ks: KernelScratch): Decoded = {
    val charset = sniffCharset(bytes)
    val n = bytes.length
    // worst case one char per byte (+1 offset sentinel); primitive arrays,
    // no boxing — this runs once per document byte
    val chars = KernelScratch.grow(ks.decChars, n)
    ks.decChars = chars
    charset match {
      case "iso-8859-1" | "windows-1252" =>
        // single-byte charsets: char index == byte offset, no offs array
        val win = charset == "windows-1252"
        var i = 0
        while (i < n) {
          val b = bytes(i) & 0xff
          chars(i) = if (win && b >= 0x80 && b <= 0x9f) cp1252High(b - 0x80) else b.toChar
          i += 1
        }
        return new Decoded(chars, null, n, identityOffs = true)
      case _ => ()
    }
    // utf-8: widen the ASCII prefix with a tight branch-light loop; most
    // crawl payloads are pure ASCII and never leave it
    var asc = 0
    while (asc < n && bytes(asc) >= 0) { chars(asc) = bytes(asc).toChar; asc += 1 }
    if (asc == n) return new Decoded(chars, null, n, identityOffs = true)
    val offs = KernelScratch.grow(ks.decOffs, n + 1)
    ks.decOffs = offs
    var k = 0
    @inline def put(c: Char, at: Int): Unit = { chars(k) = c; offs(k) = at; k += 1 }
    // identity offsets for the already-decoded ASCII prefix
    while (k < asc) { offs(k) = k; k += 1 }
    var i = asc
    while (i < n) {
          val b0 = bytes(i) & 0xff
          if (b0 < 0x80) { put(b0.toChar, i); i += 1 }
          else if ((b0 & 0xe0) == 0xc0 && i + 1 < n && (bytes(i + 1) & 0xc0) == 0x80) {
            val cp = ((b0 & 0x1f) << 6) | (bytes(i + 1) & 0x3f)
            if (cp >= 0x80) { put(cp.toChar, i); i += 2 }
            else { put('�', i); i += 1 } // overlong
          } else if ((b0 & 0xf0) == 0xe0 && i + 2 < n &&
              (bytes(i + 1) & 0xc0) == 0x80 && (bytes(i + 2) & 0xc0) == 0x80) {
            val cp = ((b0 & 0x0f) << 12) | ((bytes(i + 1) & 0x3f) << 6) | (bytes(i + 2) & 0x3f)
            if (cp >= 0x800 && !(cp >= 0xd800 && cp <= 0xdfff)) { put(cp.toChar, i); i += 3 }
            else { put('�', i); i += 1 }
          } else if ((b0 & 0xf8) == 0xf0 && i + 3 < n &&
              (bytes(i + 1) & 0xc0) == 0x80 && (bytes(i + 2) & 0xc0) == 0x80 && (bytes(i + 3) & 0xc0) == 0x80) {
            val cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3f) << 12) |
              ((bytes(i + 2) & 0x3f) << 6) | (bytes(i + 3) & 0x3f)
            if (cp >= 0x10000 && cp <= 0x10ffff) {
              val pair = Character.toChars(cp)
              put(pair(0), i); put(pair(1), i)
              i += 4
            } else { put('�', i); i += 1 }
          } else { put('�', i); i += 1 }
    }
    offs(k) = n
    new Decoded(chars, offs, k)
  }

  /** Streaming consumer of the token scan — the fused path (Dom builds
    * blocks directly from these events with no token materialization;
    * the token list + replay was measured at ~2x the event cost).
    *
    * Contract: every char-carrying event hands over a range
    * `chars[from, from + len)` of a REUSED buffer (the decode buffer or
    * the scratch's multi-segment text buffer), valid only during the
    * call — copy it out immediately, never retain `chars`. The test
    * sources materialize these events as a token list and replay it
    * through `Dom.BlockSink` as the fused path's reference. */
  trait TokenSink {
    /** Sinks that never read some tags' attributes can return false to
      * skip attr STRING construction for those names (r6b) — the
      * tokenizer still scans past the attributes with the identical
      * state machine (quote rules, '>' detection, positions), it only
      * skips building the name/value strings and the list. Default:
      * parse everything (the token-list path and attr-reading sinks). */
    def wantsAttrs(name: String): Boolean = true
    def tagOpen(t: TagOpen): Unit
    def tagClose(name: String, startByte: Int, endByte: Int): Unit
    /** Entity-decoded text; the byte span covers the raw (encoded) run. */
    def text(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit
    def comment(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit = ()
    def doctype(chars: Array[Char], from: Int, len: Int, startByte: Int, endByte: Int): Unit = ()
  }

  /** Tokenize straight into a sink — decode + single scan, no token list. */
  def stream(bytes: Array[Byte], sink: TokenSink): Unit = {
    val ks = KernelScratch.get()
    try stream(bytes, sink, ks) finally KernelScratch.release(ks)
  }

  /** `stream` on a scratch the caller fetched (and releases). */
  private[graft] def stream(bytes: Array[Byte], sink: TokenSink, ks: KernelScratch): Unit =
    streamDecoded(decode(bytes, ks), sink, ks)

  private def streamDecoded(d: Decoded, sink: TokenSink, ks: KernelScratch): Unit = {
    val s = d.chars
    val identity = d.identityOffs
    val bo = d.byteOff
    @inline def off(i: Int): Int = if (identity) i else bo(i)
    val n = d.nChars

    // pending text accumulation. r6: a text run that is ONE contiguous
    // raw segment (the overwhelmingly common case — no entities, no
    // CDATA splice) is never copied at all; it is handed over as a range
    // of the decode buffer (rawFrom/rawUntil pending below).
    // Multi-segment runs materialize the pending segment first and
    // collect in the scratch's `tokBuf` ([0, tLen)).
    var tb = ks.tokBuf
    var tLen = 0
    var rawFrom = -1   // pending not-yet-copied raw segment
    var rawUntil = -1
    var textStart = -1 // char index of first char in the run
    var textEnd = -1   // char index AFTER the last consumed char
    @inline def reserve(extra: Int): Unit =
      if (tLen + extra > tb.length) { tb = KernelScratch.grow(tb, tLen + extra); ks.tokBuf = tb }
    @inline def appendChars(from: Int, len: Int): Unit = {
      reserve(len); System.arraycopy(s, from, tb, tLen, len); tLen += len
    }
    @inline def materializeRaw(): Unit = {
      if (rawFrom >= 0) {
        appendChars(rawFrom, rawUntil - rawFrom)
        rawFrom = -1; rawUntil = -1
      }
    }
    @inline def flushText(): Unit = {
      if (tLen == 0 && rawFrom >= 0) {
        sink.text(s, rawFrom, rawUntil - rawFrom, off(textStart), off(textEnd))
        rawFrom = -1; rawUntil = -1
      } else {
        materializeRaw()
        if (tLen > 0) {
          sink.text(tb, 0, tLen, off(textStart), off(textEnd))
          tLen = 0
        }
      }
      textStart = -1; textEnd = -1
    }
    @inline def addText(str: String, cs: Int, ce: Int): Unit = {
      if (tLen == 0 && rawFrom < 0) textStart = cs
      materializeRaw()
      val l = str.length
      reserve(l); str.getChars(0, l, tb, tLen); tLen += l
      textEnd = ce
    }
    // zero-copy variant for runs still sitting in the decode buffer
    @inline def addTextRaw(from: Int, until: Int): Unit = {
      if (tLen == 0 && rawFrom < 0) {
        textStart = from
        rawFrom = from; rawUntil = until
      } else {
        materializeRaw()
        appendChars(from, until - from)
      }
      textEnd = until
    }

    var i = 0
    var rawMode: String = null // element name whose raw content we are in
    var rcdataMode = false
    val seq = new ArrayCharSeq(s, n) // shared view for entity decode

    // lit is lowercase ASCII; compare with ASCII case folding only
    @inline def lowerAt(pos: Int, lit: String): Boolean = {
      if (pos + lit.length > n) return false
      var k = 0
      while (k < lit.length) {
        val c = s(pos + k); val lc = lit.charAt(k)
        if (c != lc && (c < 'A' || c > 'Z' || (c + 32) != lc)) return false
        k += 1
      }
      true
    }

    while (i < n) {
      if (rawMode != null) {
        // consume until matching </name
        val closeLit = "</" + rawMode
        var j = i
        var found = -1
        while (found < 0 && j < n) {
          if (s(j) == '<' && lowerAt(j, closeLit)) {
            val after = j + closeLit.length
            if (after >= n || s(after) == '>' || Character.isWhitespace(s(after)) || s(after) == '/') found = j
            else j += 1
          } else j += 1
        }
        val end = if (found >= 0) found else n
        if (end > i) {
          if (rcdataMode) {
            // entity-decode RCDATA (batched between '&'s)
            var k = i
            while (k < end) {
              if (s(k) == '&') {
                val (dec, len) = Entities.decodeAt(seq, k)
                addText(dec, k, math.min(k + len, end)); k += len
              } else {
                var j = k + 1
                while (j < end && s(j) != '&') j += 1
                addTextRaw(k, j); k = j
              }
            }
          } else {
            addTextRaw(i, end)
          }
        }
        flushText()
        if (found >= 0) {
          // consume the close tag
          var k = found + closeLit.length
          while (k < n && s(k) != '>') k += 1
          val endByteIdx = if (k < n) k + 1 else n
          sink.tagClose(rawMode, off(found), off(endByteIdx))
          i = endByteIdx
        } else i = n
        rawMode = null; rcdataMode = false
      } else {
        val c = s(i)
        if (c == '<') {
          if (i + 1 >= n) { addText("<", i, i + 1); i += 1 }
          else {
            val c1 = s(i + 1)
            if (c1 == '!') {
              flushText()
              if (lowerAt(i, "<!--")) {
                val close = indexOfLit(s, i + 4, n, "-->")
                val end = if (close >= 0) close + 3 else n
                sink.comment(s, i + 4, math.max(0, (if (close >= 0) close else n) - (i + 4)),
                  off(i), off(end))
                i = end
              } else if (lowerAt(i, "<![cdata[")) {
                val close = indexOfLit(s, i + 9, n, "]]>")
                val end = if (close >= 0) close + 3 else n
                // body appended straight from the decode buffer (flushText
                // emits the run [i, end) exactly as the String form did).
                // INTENTIONAL (ADVICE r3): an EMPTY `<![CDATA[]]>` emits no
                // text run at all — the pre-refactor tokenizer stretched a
                // preceding run's endByte over the empty marker, which put
                // markup bytes inside a text span; covered by the
                // FusedPathFuzzSpec "<![CDATA[]]>" atom.
                val bodyLen = math.max(0, (if (close >= 0) close else n) - (i + 9))
                if (bodyLen > 0) {
                  if (tLen == 0 && rawFrom < 0) textStart = i
                  materializeRaw()
                  appendChars(i + 9, bodyLen)
                  textEnd = end
                }
                flushText()
                i = end
              } else { // doctype or bogus decl
                var j = i + 2
                while (j < n && s(j) != '>') j += 1
                val end = if (j < n) j + 1 else n
                sink.doctype(s, i + 2, math.max(0, j - (i + 2)), off(i), off(end))
                i = end
              }
            } else if (c1 == '?') { // bogus comment (processing instruction)
              flushText()
              var j = i + 2
              while (j < n && s(j) != '>') j += 1
              val end = if (j < n) j + 1 else n
              sink.comment(s, i + 2, math.max(0, j - (i + 2)), off(i), off(end))
              i = end
            } else if (c1 == '/') {
              if (i + 2 < n && Character.isLetter(s(i + 2))) {
                flushText()
                var j = i + 2
                while (j < n && s(j) != '>') j += 1
                val end = if (j < n) j + 1 else n
                var ne = i + 2
                while (ne < j && !Character.isWhitespace(s(ne))) ne += 1
                val name = Tags.intern(s, i + 2, math.max(0, ne - (i + 2)))
                sink.tagClose(name, off(i), off(end))
                i = end
              } else { addText("<", i, i + 1); i += 1 } // "</3" is text
            } else if (Character.isLetter(c1)) {
              flushText()
              val (tok, next) = parseStartTag(s, d, n, i, sink)
              sink.tagOpen(tok)
              i = next
              if (!tok.selfClosing) {
                val m = Tags.flags(tok.name)
                if ((m & Tags.FRawtext) != 0) { rawMode = tok.name; rcdataMode = false }
                else if ((m & Tags.FRcdata) != 0) { rawMode = tok.name; rcdataMode = true }
              }
            } else { addText("<", i, i + 1); i += 1 }
          }
        } else if (c == '&') {
          val (dec, len) = Entities.decodeAt(seq, i)
          addText(dec, i, i + len)
          i += len
        } else {
          // batch the plain-text run up to the next delimiter (hot path)
          var j = i + 1
          while (j < n && s(j) != '<' && s(j) != '&') j += 1
          addTextRaw(i, j)
          i = j
        }
      }
    }
    flushText()
  }

  private def indexOfLit(s: Array[Char], from: Int, n: Int, lit: String): Int = {
    var i = from
    while (i + lit.length <= n) {
      var k = 0
      var ok = true
      while (ok && k < lit.length) { if (s(i + k) != lit.charAt(k)) ok = false; k += 1 }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** Parse `<name attr=... >` starting at `i` (s(i)=='<'). Returns the
    * token and the char index after '>'. Lenient at EOF. */
  /** ASCII fast paths — exact-equivalent to the Character methods for
    * c < 128 (r6b: the virtual CharacterData dispatch showed in the
    * per-tag scan profile); non-ASCII falls through to the JDK. */
  @inline private def isWs(c: Char): Boolean =
    if (c < 128) c == ' ' || (c >= 9 && c <= 13) || (c >= 28 && c <= 31)
    else Character.isWhitespace(c)
  @inline private def isLetterOrDigitF(c: Char): Boolean =
    if (c < 128) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
    else Character.isLetterOrDigit(c)

  private def parseStartTag(s: Array[Char], d: Decoded, n: Int, i0: Int,
      sink: TokenSink): (TagOpen, Int) = {
    @inline def off(i: Int): Int = d.off(i)
    var i = i0 + 1
    val nameStart = i
    while (i < n && (isLetterOrDigitF(s(i)) || s(i) == '-' || s(i) == ':')) i += 1
    val name = Tags.intern(s, nameStart, i - nameStart)
    // r6b: sinks that never read this tag's attributes (BlockSink on
    // inline tags — a/span/b/img carry the bulk of crawl attrs) skip
    // the name/value string building and entity decode entirely; the
    // scan movement below is IDENTICAL either way.
    val want = sink.wantsAttrs(name)
    // r6: the builder is allocated only when a first attribute appears —
    // most tags in crawl HTML carry none, and the ListBuffer-per-tag
    // allocation showed in the kernel profile
    var attrs: scala.collection.mutable.Builder[(String, String), List[(String, String)]] = null
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && isWs(s(i))) i += 1
      if (i >= n) done = true
      else if (s(i) == '>') { i += 1; done = true }
      else if (s(i) == '/') {
        i += 1
        if (i < n && s(i) == '>') { selfClosing = true; i += 1; done = true }
      } else {
        // attribute name
        val as = i
        while (i < n && !isWs(s(i)) && s(i) != '=' && s(i) != '>' && s(i) != '/') i += 1
        val aname = if (want) Tags.intern(s, as, i - as) else null
        while (i < n && isWs(s(i))) i += 1
        var avalue = ""
        if (i < n && s(i) == '=') {
          i += 1
          while (i < n && isWs(s(i))) i += 1
          if (i < n && (s(i) == '"' || s(i) == '\'')) {
            val q = s(i); i += 1
            val vs = i
            while (i < n && s(i) != q) i += 1
            if (want) avalue = decodeEntities(new String(s, vs, i - vs))
            if (i < n) i += 1
          } else {
            val vs = i
            while (i < n && !isWs(s(i)) && s(i) != '>') i += 1
            if (want) avalue = decodeEntities(new String(s, vs, i - vs))
          }
        }
        if (want && aname.nonEmpty) {
          if (attrs == null) attrs = List.newBuilder[(String, String)]
          attrs += (aname -> avalue)
        }
      }
    }
    val endCharIdx = math.min(i, n)
    (TagOpen(name, if (attrs == null) Nil else attrs.result(),
      selfClosing, off(i0), off(endCharIdx)), i)
  }

  def decodeEntities(v: String): String = {
    if (v.indexOf('&') < 0) return v
    val b = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      if (v.charAt(i) == '&') {
        val (dec, len) = Entities.decodeAt(v, i)
        b.append(dec); i += len
      } else { b.append(v.charAt(i)); i += 1 }
    }
    b.toString
  }

  private final class ArrayCharSeq(a: Array[Char], n: Int) extends CharSequence {
    def length: Int = n
    def charAt(i: Int): Char = a(i)
    def subSequence(s: Int, e: Int): CharSequence = new String(a, s, e - s)
    override def toString: String = new String(a, 0, n)
  }
}
