package graft.url

import java.nio.charset.StandardCharsets

/**
 * URL parsing, RFC-3986 resolution, browser-style absolutization and the
 * canonical form that defines crawl identity.
 *
 * Reference semantics reproduced (see /root/reference):
 *  - `sspider/libs/utils.py:24-26` (`get_domain_from_url` = netloc)
 *  - `sspider/libs/url.py:59-67` (`quote_chinese`: bytes >= 0x80 -> %XX)
 *  - `sspider/libs/url.py:26-56` (`_build_url`: default path "/")
 *  - browser `a.href` absolutization used by the phantomjs extractors
 *    (`sspider/fetcher/phantomjs/extractors.js:289-297`): resolve against the
 *    page url, lowercase scheme/host, strip default port, percent-encode
 *    non-ASCII as UTF-8.
 *
 * The canonical form (crawl identity, per BASELINE.json north_rule) extends
 * this with: strip fragment, sort query parameters, remove dot segments.
 * Identity is then `xxhash64(canonicalize(url))` (built-in, codegen'd).
 *
 * Everything here is pure, allocation-light and usable from both plain Scala
 * and Catalyst expressions (see [[CanonicalizeUrl]]).
 */
object UrlCanon {

  /** Parsed absolute URL. `port == -1` means "absent". */
  final case class Parsed(
      scheme: String,
      userinfo: String,
      host: String,
      port: Int,
      path: String,
      query: String, // without '?', "" if absent
      fragment: String // without '#', "" if absent
  )

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*):".r

  /** Parse an absolute hierarchical URL. Returns None when there is no scheme. */
  def parse(url0: String): Option[Parsed] = {
    val url = url0.trim
    SchemeRe.findFirstMatchIn(url) match {
      case None => None
      case Some(m) =>
        val scheme = m.group(1).toLowerCase
        var rest = url.substring(m.end)
        var userinfo = ""
        var host = ""
        var port = -1
        if (rest.startsWith("//")) {
          rest = rest.substring(2)
          val end = indexOfAny(rest, "/?#")
          val auth = if (end < 0) rest else rest.substring(0, end)
          rest = if (end < 0) "" else rest.substring(end)
          var hp = auth
          val at = auth.lastIndexOf('@')
          if (at >= 0) { userinfo = auth.substring(0, at); hp = auth.substring(at + 1) }
          if (hp.startsWith("[")) { // IPv6
            val close = hp.indexOf(']')
            if (close >= 0) {
              host = hp.substring(0, close + 1).toLowerCase
              val after = hp.substring(close + 1)
              if (after.startsWith(":")) port = parsePort(after.substring(1))
            } else host = hp.toLowerCase
          } else {
            val colon = hp.lastIndexOf(':')
            if (colon >= 0) { host = hp.substring(0, colon).toLowerCase; port = parsePort(hp.substring(colon + 1)) }
            else host = hp.toLowerCase
          }
        }
        val hashAt = rest.indexOf('#')
        val fragment = if (hashAt >= 0) rest.substring(hashAt + 1) else ""
        if (hashAt >= 0) rest = rest.substring(0, hashAt)
        val qAt = rest.indexOf('?')
        val query = if (qAt >= 0) rest.substring(qAt + 1) else ""
        val path = if (qAt >= 0) rest.substring(0, qAt) else rest
        Some(Parsed(scheme, userinfo, host, port, path, query, fragment))
    }
  }

  private def parsePort(s: String): Int =
    try { if (s.isEmpty) -1 else s.toInt } catch { case _: NumberFormatException => -1 }

  private def indexOfAny(s: String, chars: String): Int = {
    var i = 0
    while (i < s.length) { if (chars.indexOf(s.charAt(i)) >= 0) return i; i += 1 }
    -1
  }

  /** netloc as the reference's `get_domain_from_url` (host[:port], no case change there;
    * we return the already-lowercased host[:port] of the canonical form). */
  def hostOf(url: String): String = parse(url) match {
    case Some(p) => if (p.port >= 0) s"${p.host}:${p.port}" else p.host
    case None => ""
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  def removeDotSegments(path: String): String = {
    val out = new java.util.ArrayDeque[String]()
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (!out.isEmpty) out.removeLast() }
      else if (in == "/..") { in = "/"; if (!out.isEmpty) out.removeLast() }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        val seg = if (next < 0) in else in.substring(0, next)
        in = if (next < 0) "" else in.substring(next)
        out.addLast(seg)
      }
    }
    val sb = new StringBuilder
    out.forEach(s => sb.append(s))
    sb.toString
  }

  /** RFC 3986 §5.3 reference resolution (base must be absolute). */
  def resolve(base: String, ref0: String): String = {
    val ref = ref0.trim
    if (SchemeRe.findFirstMatchIn(ref).isDefined) return ref
    parse(base) match {
      case None => ref
      case Some(b) =>
        val authority = {
          val hp = if (b.port >= 0) s"${b.host}:${b.port}" else b.host
          if (b.userinfo.nonEmpty) s"${b.userinfo}@$hp" else hp
        }
        if (ref.startsWith("//")) return s"${b.scheme}:$ref"
        val (refPathQF, frag) = {
          val h = ref.indexOf('#')
          if (h >= 0) (ref.substring(0, h), ref.substring(h)) else (ref, "")
        }
        val (refPath, query) = {
          val q = refPathQF.indexOf('?')
          if (q >= 0) (refPathQF.substring(0, q), refPathQF.substring(q)) else (refPathQF, "")
        }
        val mergedPath =
          if (refPath.isEmpty) b.path
          else if (refPath.startsWith("/")) removeDotSegments(refPath)
          else {
            val basePath =
              if (authority.nonEmpty && b.path.isEmpty) "/"
              else b.path.substring(0, b.path.lastIndexOf('/') + 1)
            removeDotSegments(basePath + refPath)
          }
        val q2 = if (refPath.isEmpty && query.isEmpty) { // keep base query for bare-fragment refs
          if (b.query.nonEmpty) "?" + b.query else ""
        } else query
        s"${b.scheme}://$authority$mergedPath$q2$frag"
    }
  }

  /** JS-`encodeURIComponent` (extractors.js form serialization): unreserved =
    * A-Za-z0-9 - _ . ! ~ * ' ( ) ; everything else %XX over UTF-8 bytes. */
  def encodeUriComponent(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val c = (b & 0xff).toChar
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        "-_.!~*'()".indexOf(c) >= 0) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Percent-encode the bytes a browser encodes when reading back `a.href`:
    * non-ASCII (reference `quote_chinese`, url.py:59-67), spaces, control
    * chars, `"<>`` and backslash. Existing '%' left untouched (no double
    * encoding of already-encoded input). */
  def encodeHrefBytes(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val i = b & 0xff
      if (i >= 0x80 || i <= 0x20 || i == 0x7f || "\"<>`\\".indexOf(i.toChar) >= 0)
        sb.append(f"%%$i%02X")
      else sb.append(i.toChar)
    }
    sb.toString
  }

  private def isDefaultPort(scheme: String, port: Int): Boolean =
    (scheme == "http" && port == 80) || (scheme == "https" && port == 443) ||
      (scheme == "ftp" && port == 21) || (scheme == "ws" && port == 80) ||
      (scheme == "wss" && port == 443)

  /**
   * Browser-`a.href`-style absolutization: resolve `ref` against `base`,
   * percent-encode stray bytes, lowercase scheme+host, strip default port.
   * Fragment is KEPT (browsers keep it; extraction fidelity). Returns None
   * for non-navigation schemes (javascript:, mailto:, data:, about:).
   */
  def absolutize(base: String, ref: String): Option[String] = {
    val abs = resolve(base, ref)
    parse(abs) match {
      case None => None
      case Some(p) =>
        if (p.scheme != "http" && p.scheme != "https" && p.scheme != "ftp") None
        else Some(rebuild(p, keepFragment = true, sortQuery = false))
    }
  }

  /**
   * Canonical crawl identity (north_rule): lowercase scheme/host, strip
   * fragment + default port, remove dot segments, default path "/",
   * percent-encode non-ASCII, sort query params (byte order, duplicates
   * kept), drop empty query tokens. Idempotent.
   *
   * One fast path serves every caller: the string's UTF-8 bytes go through
   * [[canonFastBytes]], the same single pass the codegen'd expressions run,
   * which bails to the general parse/rebuild on anything unusual
   * (non-ASCII, userinfo, IPv6, dot segments, chars needing
   * percent-encoding). Equivalence is enforced by the sweep in UrlCanonSpec.
   */
  def canonicalize(url: String): String = {
    val fast = canonFastBytes(url.getBytes(StandardCharsets.UTF_8))
    if (fast != null) new String(fast, StandardCharsets.UTF_8) else canonGeneral(url)
  }

  /** Non-hierarchical schemes are OPAQUE: they carry no authority, so the
    * host/path/query rebuild does not apply — forcing one used to mangle
    * `data:,x` into `data://,x`, changing the task's identity hash vs the
    * reference (which md5's the data url as given; tornado_fetcher.py:176
    * data_fetch consumes the raw url). Kept as-is apart from trim. */
  private val OpaqueSchemes = Set("data", "mailto", "javascript", "about", "tel", "urn")

  def canonGeneral(url: String): String = parse(url) match {
    case None => url.trim
    case Some(p) if p.host.isEmpty && OpaqueSchemes(p.scheme) => url.trim
    case Some(p) => rebuild(p, keepFragment = false, sortQuery = true)
  }

  private def rebuild(p: Parsed, keepFragment: Boolean, sortQuery: Boolean): String = {
    val sb = new StringBuilder(64)
    sb.append(p.scheme).append("://")
    if (p.userinfo.nonEmpty) sb.append(p.userinfo).append('@')
    sb.append(p.host)
    if (p.port >= 0 && !isDefaultPort(p.scheme, p.port)) sb.append(':').append(p.port)
    val rawPath = if (p.path.isEmpty) "/" else removeDotSegments(p.path)
    sb.append(encodeHrefBytes(if (rawPath.isEmpty) "/" else rawPath))
    val q = encodeHrefBytes(p.query)
    if (q.nonEmpty) {
      val tokens0 = q.split("&", -1).toSeq.filter(_.nonEmpty)
      val tokens = if (sortQuery) tokens0.sorted else tokens0
      if (tokens.nonEmpty) sb.append('?').append(tokens.mkString("&"))
      else if (!sortQuery) sb.append('?') // browser keeps a bare '?'... it does not; drop
    }
    if (keepFragment && p.fragment.nonEmpty) sb.append('#').append(encodeHrefBytes(p.fragment))
    sb.toString
  }

  /** Per-thread canonical-byte scratch: the byte fast path writes the
    * canonical form here and the caller either copies the exact-size result
    * out (canonUTF8 — one allocation per row) or hashes it in place
    * (urlKeysRow — ZERO per-row allocation beyond the returned row). At 32
    * threads the map stage is memory-bandwidth-bound, so every byte not
    * allocated is a byte not written+GC'd+re-read — this is the N->4N
    * scaling diet, not a micro-optimization. */
  private val tlScratch = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1024)
  }
  /** Packing limit for canonFastInto's (len, hostStart, hostEnd) result:
    * three 21-bit fields. URLs >= 2 MiB take the general path. */
  private val MaxFast = (1 << 21) - 1

  private def scratchFor(n: Int): Array[Byte] = {
    if (n > MaxFast) return null
    var buf = tlScratch.get
    if (buf.length < n) {
      var cap = buf.length
      while (cap < n) cap <<= 1
      buf = new Array[Byte](cap)
      tlScratch.set(buf)
    }
    buf
  }

  /** UTF8String bridge for codegen (see [[CanonicalizeUrl]]): the fast path
    * runs DIRECTLY over the UTF-8 bytes — no String decode/encode round-trip,
    * one allocation per row (the exact-size copy; the working buffer is
    * per-thread scratch). At 10^10 frontier rows the transcoding otherwise
    * dominates (observed 5x CPU inflation at 32 threads from allocation
    * pressure). Falls back to the String-based general path on non-ASCII /
    * unusual shapes. */
  def canonUTF8(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    if (u == null) return null
    val bytes = u.getBytes
    val out = scratchFor(bytes.length + 1)
    if (out != null) {
      val packed = canonFastInto(bytes, out)
      if (packed >= 0)
        return org.apache.spark.unsafe.types.UTF8String.fromBytes(
          java.util.Arrays.copyOf(out, (packed & MaxFast).toInt))
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(canonGeneral(u.toString))
  }

  /** Fused crawl-identity keys (see [[UrlKeys]]): canonicalize into the
    * per-thread scratch and hash in place — url_hash = xxhash64(canonical),
    * host_hash = xxhash64(netloc of canonical) — with zero intermediate
    * string materialization. Exactly equals
    * `xxhash64(canonicalize_url(x))` / `xxhash64(url_host(canonicalize_url(x)))`
    * (asserted bit-for-bit in UrlCanonSpec): the canonical bytes are hashed
    * with Spark's XXH64, seed 42, the same function the built-in applies. */
  def urlKeysRow(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (u == null) return null
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val bytes = u.getBytes
    var urlHash = 0L
    var hostHash = 0L
    val out = scratchFor(bytes.length + 1)
    var done = false
    if (out != null) {
      val packed = canonFastInto(bytes, out)
      if (packed >= 0) {
        val len = (packed & MaxFast).toInt
        val hs = ((packed >> 21) & MaxFast).toInt
        val he = ((packed >> 42) & MaxFast).toInt
        urlHash = XXH64.hashUnsafeBytes(out, Platform.BYTE_ARRAY_OFFSET, len, 42L)
        hostHash = XXH64.hashUnsafeBytes(out, Platform.BYTE_ARRAY_OFFSET + hs, he - hs, 42L)
        done = true
      }
    }
    if (!done) {
      val canon = canonGeneral(u.toString)
      val cb = canon.getBytes(StandardCharsets.UTF_8)
      urlHash = XXH64.hashUnsafeBytes(cb, Platform.BYTE_ARRAY_OFFSET, cb.length, 42L)
      val hb = hostOf(canon).getBytes(StandardCharsets.UTF_8)
      hostHash = XXH64.hashUnsafeBytes(hb, Platform.BYTE_ARRAY_OFFSET, hb.length, 42L)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](urlHash, hostHash))
  }

  @inline private def lowerB(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c
  @inline private def needsEncB(c: Int): Boolean =
    c <= ' ' || c >= 0x7f || c == '"' || c == '<' || c == '>' || c == '`' || c == '\\'

  private def regionEq(b: Array[Byte], s: Int, e: Int, lit: String): Boolean = {
    if (e - s != lit.length) return false
    var i = 0
    while (i < lit.length) { if (lowerB(b(s + i) & 0xff) != lit.charAt(i)) return false; i += 1 }
    true
  }

  /** Byte-level single-pass canonicalizer; null = fall back to general. */
  def canonFastBytes(b: Array[Byte]): Array[Byte] = {
    val out = scratchFor(b.length + 1)
    if (out == null) return null
    val packed = canonFastInto(b, out)
    if (packed < 0) null
    else java.util.Arrays.copyOf(out, (packed & MaxFast).toInt)
  }

  /** Core of the byte fast path: canonicalize `b` into `out` (caller sizes
    * it >= b.length + 1). Returns a packed Long —
    * `len | netlocStart << 21 | netlocEnd << 42` (offsets into `out`; the
    * netloc span is host[:non-default-port], what [[hostOf]] returns for the
    * canonical form) — or -1 to fall back to the general String path. */
  private def canonFastInto(b: Array[Byte], out: Array[Byte]): Long = {
    var start = 0
    var end = b.length
    if (end > MaxFast) return -1L
    while (start < end && (b(start) & 0xff) <= ' ') start += 1
    while (end > start && (b(end - 1) & 0xff) <= ' ') end -= 1
    if (end - start < 8) return -1L
    var i = start
    while (i < end && b(i) != ':') {
      val c = b(i) & 0xff
      if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))) return -1L
      i += 1
    }
    if (i >= end - 2 || b(i + 1) != '/' || b(i + 2) != '/') return -1L
    val schemeEnd = i
    var o = 0
    var j = start
    while (j < schemeEnd) { out(o) = lowerB(b(j) & 0xff).toByte; o += 1; j += 1 }
    val defPort =
      if (regionEq(b, start, schemeEnd, "http") || regionEq(b, start, schemeEnd, "ws")) 80
      else if (regionEq(b, start, schemeEnd, "https") || regionEq(b, start, schemeEnd, "wss")) 443
      else if (regionEq(b, start, schemeEnd, "ftp")) 21
      else -1
    out(o) = ':'; out(o + 1) = '/'; out(o + 2) = '/'; o += 3
    val netS = o
    i = schemeEnd + 3
    val authStart = i
    while (i < end && { val c = b(i) & 0xff; c != '/' && c != '?' && c != '#' }) {
      val c = b(i) & 0xff
      if (c == '@' || c == '[' || needsEncB(c)) return -1L
      i += 1
    }
    val authEnd = i
    var colon = -1
    j = authEnd - 1
    while (j >= authStart && colon < 0) { if (b(j) == ':') colon = j; j -= 1 }
    val hostEnd = if (colon >= 0) colon else authEnd
    if (hostEnd == authStart) return -1L
    j = authStart
    while (j < hostEnd) { out(o) = lowerB(b(j) & 0xff).toByte; o += 1; j += 1 }
    if (colon >= 0 && colon + 1 < authEnd) {
      var p = 0
      j = colon + 1
      while (j < authEnd) {
        val c = b(j) & 0xff
        if (c < '0' || c > '9') return -1L
        p = p * 10 + (c - '0')
        if (p > 99999) return -1L
        j += 1
      }
      if (p != defPort) {
        out(o) = ':'; o += 1
        val ps = String.valueOf(p)
        var x = 0
        while (x < ps.length) { out(o) = ps.charAt(x).toByte; o += 1; x += 1 }
      }
    }
    val netE = o
    if (i >= end || b(i) != '/') { out(o) = '/'; o += 1 }
    var prev = ' '.toInt
    while (i < end && { val c = b(i) & 0xff; c != '?' && c != '#' }) {
      val c = b(i) & 0xff
      if (needsEncB(c)) return -1L
      if (c == '.' && prev == '/') return -1L
      out(o) = c.toByte; o += 1
      prev = c
      i += 1
    }
    if (i < end && b(i) == '?') {
      i += 1
      val qStart = i
      while (i < end && b(i) != '#') {
        if (needsEncB(b(i) & 0xff)) return -1L
        i += 1
      }
      val qEnd = i
      if (qEnd > qStart) {
        // token bounds
        var nTok = 0
        var k = qStart
        var ts = qStart
        var maxTok = 1
        k = qStart
        while (k < qEnd) { if (b(k) == '&') maxTok += 1; k += 1 }
        val tokS = new Array[Int](maxTok)
        val tokE = new Array[Int](maxTok)
        k = qStart
        while (k <= qEnd) {
          if (k == qEnd || b(k) == '&') {
            if (k > ts) { tokS(nTok) = ts; tokE(nTok) = k; nTok += 1 }
            ts = k + 1
          }
          k += 1
        }
        // insertion sort by unsigned byte order
        def less(x: Int, y: Int): Boolean = {
          var a = tokS(x); var c = tokS(y)
          while (a < tokE(x) && c < tokE(y)) {
            val d = (b(a) & 0xff) - (b(c) & 0xff)
            if (d != 0) return d < 0
            a += 1; c += 1
          }
          (tokE(x) - tokS(x)) < (tokE(y) - tokS(y))
        }
        var x = 1
        while (x < nTok) {
          var y = x
          while (y > 0 && less(y, y - 1)) {
            val s1 = tokS(y); tokS(y) = tokS(y - 1); tokS(y - 1) = s1
            val e1 = tokE(y); tokE(y) = tokE(y - 1); tokE(y - 1) = e1
            y -= 1
          }
          x += 1
        }
        if (nTok > 0) {
          out(o) = '?'; o += 1
          x = 0
          while (x < nTok) {
            if (x > 0) { out(o) = '&'; o += 1 }
            var a = tokS(x)
            while (a < tokE(x)) { out(o) = b(a); o += 1; a += 1 }
            x += 1
          }
        }
      }
    }
    o.toLong | netS.toLong << 21 | netE.toLong << 42
  }

  /** netloc bridge for codegen (see [[UrlHost]]). Byte fast path for the
    * common canonical shape `scheme://host/...` — ASCII scheme, no
    * userinfo/IPv6/explicit port — one lowercase copy of the host span, no
    * parse object. Anything else (ports to normalize, userinfo to strip,
    * IPv6 brackets, non-ASCII) falls back to the general parser. */
  def hostUTF8(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    if (u == null) return null
    val b = u.getBytes
    val n = b.length
    var i = 0
    var ok = n >= 4
    while (ok && i < n && b(i) != ':') {
      val c = b(i) & 0xff
      ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
      if (ok) i += 1
    }
    if (ok && i >= 1 && i + 2 < n && b(i) == ':' && b(i + 1) == '/' && b(i + 2) == '/') {
      val hs = i + 3
      var j = hs
      var bad = false
      var stop = false
      while (j < n && !stop && !bad) {
        val c = b(j) & 0xff
        if (c == '/' || c == '?' || c == '#') stop = true
        else if (c == '@' || c == '[' || c == ':' || needsEncB(c)) bad = true
        else j += 1
      }
      if (!bad && j > hs) {
        val outB = new Array[Byte](j - hs)
        var k = hs
        while (k < j) { outB(k - hs) = lowerB(b(k) & 0xff).toByte; k += 1 }
        return org.apache.spark.unsafe.types.UTF8String.fromBytes(outB)
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(hostOf(u.toString))
  }
}
