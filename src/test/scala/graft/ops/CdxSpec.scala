package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Locks on the CDXJ index layer (graft.ops.Cdx): SURT canonicalization
  * cases (host reversal, www strip, default ports, userinfo, query
  * sorting, fragments), line round trips, and typed refusals.
  */
class CdxSpec extends AnyFunSuite {

  test("SURT canonicalization matches the pywb conventions") {
    assert(Cdx.surt("http://www.Example.org/Path/X?b=2&a=1#frag") ==
      "org,example)/path/x?a=1&b=2")
    assert(Cdx.surt("https://sub.host.example.com/") == "com,example,host,sub)/")
    assert(Cdx.surt("http://example.com") == "com,example)/")
    assert(Cdx.surt("http://example.com?q=1") == "com,example)/?q=1")
    // default ports drop, explicit ones survive
    assert(Cdx.surt("http://example.com:80/a") == "com,example)/a")
    assert(Cdx.surt("https://example.com:443/a") == "com,example)/a")
    assert(Cdx.surt("http://example.com:8080/a") == "com,example:8080)/a")
    // userinfo dropped; www stripped only as a leading label with a
    // registrable domain left over
    assert(Cdx.surt("http://user:pw@example.com/a") == "com,example)/a")
    assert(Cdx.surt("http://www.com/x") == "com,www)/x")
    // the whole url lowercases, query included (pywb default)
    assert(Cdx.surt("http://a.com/x?Q=V&B=2") == "com,a)/x?b=2&q=v")
    // IP-literal hosts are never reversed or www-stripped
    assert(Cdx.surt("http://192.168.0.1:8080/a") == "192.168.0.1:8080)/a")
    // bracketed IPv6 refuses typed (with or without a port)
    intercept[graft.core.Refusal](Cdx.surt("http://[::1]:8080/x"))
    intercept[graft.core.Refusal](Cdx.surt("http://[2001:db8::1]/x"))
  }

  test("CDXJ line round trip is exact") {
    val c = Cdx.Capture("org,example)/doc/7", "20260101123456",
      "http://example.org/doc/7", "text/html", 200,
      "sha1:ABCDEF", 1234L, 567890L, "part-00.warc.gz")
    val line = Cdx.writeLine(c)
    assert(line.startsWith("org,example)/doc/7 20260101123456 {"))
    assert(Cdx.parseLine(line) == c)
  }

  test("refusals are typed: bad timestamp, missing fields, non-JSON, bad scheme") {
    assert(Cdx.parseLineSafe("only-one-field") == Left("bad_record"))
    assert(Cdx.parseLineSafe("a)/x 2026 {}") == Left("bad_record"))
    assert(Cdx.parseLineSafe("a)/x 20260101123456 not-json") == Left("bad_record"))
    assert(Cdx.parseLineSafe("""a)/x 20260101123456 {"url":"u"}""") == Left("bad_record"))
    val e = intercept[graft.core.Refusal](Cdx.surt("ftp://example.com/x"))
    assert(e.kind == "bad_record")
    intercept[graft.core.Refusal](Cdx.surt("not a url"))
  }

  test("every single-byte mutation of a valid line is typed, never a throw") {
    val line = Cdx.writeLine(Cdx.Capture("org,example)/d", "20260101000000",
      "http://example.org/d", "text/plain", 200, "sha1:X", 10L, 0L, "f.warc.gz"))
    for (pos <- line.indices; x <- Seq(1, 90, 128)) {
      val m = line.toCharArray
      m(pos) = (m(pos) ^ x).toChar
      Cdx.parseLineSafe(new String(m)) match {
        case Left(k) => assert(k == "bad_record", s"pos=$pos x=$x kind=$k")
        case Right(_) => ()
      }
    }
  }
}
