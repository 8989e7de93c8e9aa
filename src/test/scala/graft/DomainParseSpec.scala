package graft

import graft.ops.DomainParse

/** PSL-aware domain parse (full tldextract parity tier — SURVEY.md §7.5 #2).
  * Cases mirror the reference's tldextract expectations
  * (`rankings_generator.py:165-167`, `ranking_urls_generator.py:150-154`).
  */
class DomainParseSpec extends SparkSpec {

  test("multi-label public suffixes win over last-two-labels") {
    assert(DomainParse.registeredDomain("shop.example.co.uk") == "example.co.uk")
    assert(DomainParse.registeredDomain("example.co.uk") == "example.co.uk")
    assert(DomainParse.registeredDomain("a.b.example.com.au") == "example.com.au")
  }

  test("full vendored PSL: multi-label suffixes absent from any mini list") {
    // VERDICT r02 #4 done-bar: tldextract parity on suffixes the old
    // 23-entry subset didn't carry
    assert(DomainParse.registeredDomain("shop.example.co.il") == "example.co.il")
    assert(DomainParse.parse("example.co.il").suffix == "co.il")
    assert(DomainParse.registeredDomain("a.example.com.sg") == "example.com.sg")
    assert(DomainParse.parse("foo.gov.br").suffix == "gov.br")
    assert(DomainParse.registeredDomain("x.y.example.org.za") == "example.org.za")
  }

  test("wildcard and exception PSL rules (*.ck / !www.ck)") {
    // `*.ck`: any label under ck is itself a public suffix
    assert(DomainParse.parse("foo.bar.ck").suffix == "bar.ck")
    assert(DomainParse.registeredDomain("foo.bar.ck") == "foo.bar.ck")
    // `!www.ck` cancels the wildcard: www.ck is a registrable domain
    assert(DomainParse.parse("www.ck").suffix == "ck")
    assert(DomainParse.registeredDomain("www.ck") == "www.ck")
    assert(DomainParse.registeredDomain("a.www.ck") == "www.ck")
    // kawasaki.jp wildcard block with city exception
    assert(DomainParse.parse("foo.anything.kawasaki.jp").suffix
      == "anything.kawasaki.jp")
    assert(DomainParse.registeredDomain("city.kawasaki.jp") == "city.kawasaki.jp")
  }

  test("ICANN section only (tldextract default excludes private domains)") {
    // blogspot.com is in the PRIVATE section: must NOT be a suffix here
    assert(DomainParse.parse("foo.blogspot.com").suffix == "com")
    assert(DomainParse.registeredDomain("foo.blogspot.com") == "blogspot.com")
  }

  test("single-label suffixes") {
    assert(DomainParse.registeredDomain("www.foo.com") == "foo.com")
    assert(DomainParse.registeredDomain("foo.io") == "foo.io")
  }

  test("subdomain is None when empty or www (reference `subdomain or None`)") {
    assert(DomainParse.parse("www.foo.com").subdomain.isEmpty)
    assert(DomainParse.parse("foo.com").subdomain.isEmpty)
    assert(DomainParse.parse("a.b.foo.com").subdomain.contains("a.b"))
    assert(DomainParse.parse("shop.example.co.uk").subdomain.contains("shop"))
  }

  test("degenerate inputs") {
    assert(DomainParse.registeredDomain("") == "")
    assert(DomainParse.registeredDomain(null) == "")
    assert(DomainParse.registeredDomain("localhost") == "localhost")
    assert(DomainParse.parse("com").domain == "")
  }

  test("registeredDomainPsl works in a DataFrame plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val r = Seq("shop.example.co.uk", "www.foo.com").toDF("fqdn")
      .select(graft.ops.Scalars.registeredDomainPsl(col("fqdn")).as("rd"))
      .collect()
    assert(r(0).getString(0) == "example.co.uk")
    assert(r(1).getString(0) == "foo.com")
  }
}
