package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.url.UrlCanon

class UrlCanonSpec extends AnyFunSuite {

  test("opaque schemes are preserved, never authority-rebuilt (data_fetch consumes the raw url)") {
    assert(UrlCanon.canonicalize("data:,Hello%2C%20World!") == "data:,Hello%2C%20World!")
    assert(UrlCanon.canonicalize(" data:text/html;base64,PGh0bWw+ ") == "data:text/html;base64,PGh0bWw+")
    assert(UrlCanon.canonicalize("mailto:a@b.example") == "mailto:a@b.example")
    assert(UrlCanon.canonicalize("javascript:void(0)") == "javascript:void(0)")
    // a scheme-less or http url is NOT opaque — the rebuild still applies
    assert(UrlCanon.canonicalize("HTTP://Example.COM:80/a/../b") == "http://example.com/b")
  }

  test("parse basic") {
    val p = UrlCanon.parse("HTTP://User@Example.COM:8080/a/b?x=1#frag").get
    assert(p.scheme == "http")
    assert(p.userinfo == "User")
    assert(p.host == "example.com")
    assert(p.port == 8080)
    assert(p.path == "/a/b")
    assert(p.query == "x=1")
    assert(p.fragment == "frag")
  }

  test("hostOf matches reference netloc semantics post-canonicalization") {
    // utils.py:24-26 returns netloc incl. port
    assert(UrlCanon.hostOf("http://a.example.com:8080/x") == "a.example.com:8080")
    assert(UrlCanon.hostOf("http://a.example.com/x") == "a.example.com")
    assert(UrlCanon.hostOf("not a url") == "")
  }

  test("canonicalize: lowercase host/scheme, strip fragment and default port") {
    assert(UrlCanon.canonicalize("HTTP://WWW.Example.COM:80/Path/Index.html#sec") ==
      "http://www.example.com/Path/Index.html")
    assert(UrlCanon.canonicalize("https://h.com:443/") == "https://h.com/")
    assert(UrlCanon.canonicalize("https://h.com:8443/") == "https://h.com:8443/")
    assert(UrlCanon.canonicalize("ftp://h.com:21/f") == "ftp://h.com/f")
  }

  test("canonicalize: default path, query sort, empty-token drop") {
    assert(UrlCanon.canonicalize("http://h.com") == "http://h.com/")
    assert(UrlCanon.canonicalize("http://h.com?b=2&a=1") == "http://h.com/?a=1&b=2")
    assert(UrlCanon.canonicalize("http://h.com/p?b=2&&a=1&") == "http://h.com/p?a=1&b=2")
    assert(UrlCanon.canonicalize("http://h.com/p?") == "http://h.com/p")
    // duplicates kept, byte-order sort
    assert(UrlCanon.canonicalize("http://h.com/p?a=2&a=1") == "http://h.com/p?a=1&a=2")
  }

  test("canonicalize: dot segments and non-ascii percent-encoding (quote_chinese, url.py:59-67)") {
    assert(UrlCanon.canonicalize("http://h.com/a/b/../c/./d") == "http://h.com/a/c/d")
    // 展示 -> UTF-8 E5 B1 95 E7 A4 BA
    assert(UrlCanon.canonicalize("http://h.com/p?id=展示") == "http://h.com/p?id=%E5%B1%95%E7%A4%BA")
  }

  test("resolve: RFC 3986 cases") {
    val base = "http://a/b/c/d;p?q"
    assert(UrlCanon.resolve(base, "g") == "http://a/b/c/g")
    assert(UrlCanon.resolve(base, "./g") == "http://a/b/c/g")
    assert(UrlCanon.resolve(base, "/g") == "http://a/g")
    assert(UrlCanon.resolve(base, "//g") == "http://g")
    assert(UrlCanon.resolve(base, "?y") == "http://a/b/c/d;p?y")
    assert(UrlCanon.resolve(base, "#s") == "http://a/b/c/d;p?q#s")
    assert(UrlCanon.resolve(base, "../g") == "http://a/b/g")
    assert(UrlCanon.resolve(base, "../../g") == "http://a/g")
    assert(UrlCanon.resolve(base, "g?y") == "http://a/b/c/g?y")
    assert(UrlCanon.resolve(base, "http://x/y") == "http://x/y")
  }

  test("absolutize: browser a.href behavior — keeps fragment, encodes bytes, filters schemes") {
    assert(UrlCanon.absolutize("http://127.0.0.1:14887/js", "js_link2.php?id=2&msg=哇") ==
      Some("http://127.0.0.1:14887/js_link2.php?id=2&msg=%E5%93%87"))
    assert(UrlCanon.absolutize("http://h.com/a", "b#frag") == Some("http://h.com/b#frag"))
    assert(UrlCanon.absolutize("http://h.com/a", "javascript:void(0)").isEmpty)
    assert(UrlCanon.absolutize("http://h.com/a", "mailto:x@y.z").isEmpty)
    assert(UrlCanon.absolutize("http://h.com:80/a", "b") == Some("http://h.com/b"))
  }

  test("encodeUriComponent matches JS semantics") {
    assert(UrlCanon.encodeUriComponent("提交") == "%E6%8F%90%E4%BA%A4")
    assert(UrlCanon.encodeUriComponent("a-b_c.d!e~f*g'h(i)j") == "a-b_c.d!e~f*g'h(i)j")
    assert(UrlCanon.encodeUriComponent("a b&c=d") == "a%20b%26c%3Dd")
  }

  // --- exhaustive property sweep (SURVEY §5 rebuild test plan item 5) ---
  // full cross product of URL fragments: 4*4*3*6*5*3 = 4320 cases
  private val allUrls: Seq[String] = for {
    scheme <- Seq("http", "https", "HTTP", "ftp")
    host <- Seq("Example.com", "a.b.co", "X9.test", "127.0.0.1")
    port <- Seq("", ":80", ":8080")
    path <- Seq("", "/", "/a/b", "/a/../b", "/展示/x", "/p%20q")
    query <- Seq("", "?b=2&a=1", "?x=展示", "?a=1&a=0&", "?k")
    frag <- Seq("", "#f", "#x y")
  } yield s"$scheme://$host$port$path$query$frag"

  test("canonicalize is idempotent (4320-case sweep)") {
    allUrls.foreach { u =>
      val c = UrlCanon.canonicalize(u)
      assert(UrlCanon.canonicalize(c) == c, s"not idempotent for $u -> $c")
    }
  }

  test("url_keys fused hashes equal xxhash64(canonical) / xxhash64(netloc) bit-for-bit") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    def expected(u: String): (Long, Long) = {
      val c = UrlCanon.canonicalize(u)
      val cb = c.getBytes("UTF-8")
      val hb = UrlCanon.hostOf(c).getBytes("UTF-8")
      (XXH64.hashUnsafeBytes(cb, Platform.BYTE_ARRAY_OFFSET, cb.length, 42L),
        XXH64.hashUnsafeBytes(hb, Platform.BYTE_ARRAY_OFFSET, hb.length, 42L))
    }
    val hot = (0 until 500).map(i =>
      s"HTTP://Host${i % 50}.Example.COM:80/p/$i?b=${i % 7}&a=1#f")
    val fallback = Seq("http://u@h.com/x", "http://h.com/a/../b", "http://h.com/展示",
      "not a url", "http://[::1]:8080/x", "http://h.com:8080?z=1&y=2#f")
    (allUrls ++ hot ++ fallback).foreach { u =>
      val row = UrlCanon.urlKeysRow(UTF8String.fromString(u))
      assert((row.getLong(0), row.getLong(1)) == expected(u), s"url_keys mismatch for $u")
    }
  }

  test("hostUTF8 fast path equals hostOf on the sweep") {
    import org.apache.spark.unsafe.types.UTF8String
    (allUrls ++ Seq("http://u:p@H.com:8080/x", "http://[::1]:80/x", "HTTPS://A.B/",
      "relative/path", "", " http://Pad.com/x ", "http://h.com:abc/x"))
      .foreach { u =>
        val viaBytes = UrlCanon.hostUTF8(UTF8String.fromString(u))
        assert(viaBytes != null && viaBytes.toString == UrlCanon.hostOf(u), s"hostUTF8 mismatch for $u")
      }
  }

  private def canonViaBytes(u: String): String = {
    val r = UrlCanon.canonFastBytes(u.getBytes("UTF-8"))
    if (r == null) UrlCanon.canonGeneral(u) else new String(r, "UTF-8")
  }

  test("fast path equals general path on the sweep + hot-path shapes") {
    allUrls.foreach { u =>
      assert(UrlCanon.canonicalize(u) == UrlCanon.canonGeneral(u), s"fast != general for $u")
      assert(canonViaBytes(u) == UrlCanon.canonGeneral(u), s"bytes != general for $u")
    }
    val hot = (0 until 2000).map(i =>
      s"HTTP://Host${i % 50}.Example.COM:80/p/${i}?b=${i % 7}&a=1#f")
    hot.foreach { u =>
      assert(UrlCanon.canonicalize(u) == UrlCanon.canonGeneral(u), s"fast != general for $u")
      assert(canonViaBytes(u) == UrlCanon.canonGeneral(u), s"bytes != general for $u")
    }
    // fall-back shapes must still work
    Seq("http://u@h.com/x", "http://h.com/a/../b", "http://h.com/展示", "not a url",
      "http://[::1]:8080/x", "http://h.com/a b?x=1", "x://h/^{}", "http://h.com:/p",
      "http://h.com:8080?z=1&y=2&y=1#f", "FTP://H.COM:21/f?", "http://h.com/p?&&")
      .foreach { u =>
        assert(UrlCanon.canonicalize(u) == UrlCanon.canonGeneral(u), s"fast != general for $u")
        assert(canonViaBytes(u) == UrlCanon.canonGeneral(u), s"bytes != general for $u")
      }
  }

  test("canonicalize equals the general path where char and UTF-8 byte lengths differ") {
    // non-ASCII only in parts the fast path skips (the fragment) or only
    // measures (the < 8 length check): the byte path sees more bytes than
    // the string has chars
    Seq("a://b#é", "a://b#展", "h://x#éé", "http://h.com/#展示", "http://h.com/p?b=1&a=2#ü",
      " http://H.com:80/p#展 ", "http://h.com#ß")
      .foreach { u =>
        assert(UrlCanon.canonicalize(u) == UrlCanon.canonGeneral(u), s"fast != general for $u")
      }
  }

  test("canonicalize equals the codegen'd canonicalize_url, malformed UTF-16 included") {
    import org.apache.spark.unsafe.types.UTF8String
    // a lone surrogate encodes to '?', here before a query: one identity
    // whether the url arrives as a String or as a Spark row value
    (allUrls.take(200) ++ Seq("a://b#é", "http://h.com/a\uD800b?z=1&a=2", "http://h.com/\uDC00"))
      .foreach { u =>
        assert(UrlCanon.canonicalize(u) == UrlCanon.canonUTF8(UTF8String.fromString(u)).toString,
          s"String != UTF8String path for $u")
      }
  }

  test("canonicalize strips fragments and sorts queries stably (sweep)") {
    allUrls.foreach { u =>
      val c = UrlCanon.canonicalize(u)
      assert(!c.contains("#"), s"fragment survives in $c")
      val q = c.indexOf('?')
      if (q >= 0) {
        val toks = c.substring(q + 1).split("&", -1).toSeq
        assert(toks == toks.sorted, s"unsorted query in $c")
        assert(toks.forall(_.nonEmpty), s"empty token in $c")
      }
    }
  }
}
