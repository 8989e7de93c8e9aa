package graft.ops

/** Public-suffix-aware domain parsing — full-fidelity version of the
  * simplified last-two-labels rule in Scalars (SURVEY.md §7.5 #2).
  *
  * Mirrors the reference's tldextract usage (`rankings_generator.py:165-167`,
  * `ranking_urls_generator.py:150-154`): fqdn → (subdomain, domain, suffix),
  * where suffix comes from the public-suffix list and subdomain falls back
  * to NULL when empty or "www" (`subdomain or None`).
  *
  * The FULL Mozilla public-suffix list is vendored at
  * `resources/graft/public_suffix_list.dat` (public data, MPL-2.0; same
  * list tldextract snapshots — Debian ships it as the `publicsuffix`
  * package). Parsed once per JVM at object init into three rule sets —
  * exact, wildcard (`*.ck`), exception (`!www.ck`) — restricted to the
  * ICANN section, matching tldextract's default
  * `include_psl_private_domains=False`. Executors re-initialize from the
  * jar-bundled resource, so nothing needs broadcasting. Queries reach the
  * registered domain through the native codegen expression
  * [[RegisteredDomainExpr]] (`Scalars.registeredDomainPsl`). The
  * program's subdomain column is `Scalars.subdomain`; [[parse]]'s PSL
  * subdomain has no query caller.
  */
object DomainParse {

  /** (exact rules, wildcard parents, exception rules) from the ICANN
    * section of the vendored PSL. A wildcard rule `*.ck` is stored as its
    * parent `"ck"`; an exception `!www.ck` as `"www.ck"`.
    */
  private val (exact, wildcardParents, exceptions):
      (Set[String], Set[String], Set[String]) = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null, "vendored public_suffix_list.dat missing from jar")
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val icann = lines
      .dropWhile(!_.contains("===BEGIN ICANN DOMAINS==="))
      .takeWhile(!_.contains("===END ICANN DOMAINS==="))
    val rules = icann.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//"))
      .map(_.toLowerCase)
    (rules.filter(r => !r.startsWith("*.") && !r.startsWith("!")).toSet,
      rules.filter(_.startsWith("*.")).map(_.stripPrefix("*.")).toSet,
      rules.filter(_.startsWith("!")).map(_.stripPrefix("!")).toSet)
  }

  /** Number of labels the matched public suffix spans for `labels`
    * (0 = no rule matches). PSL algorithm: an exception rule prevails
    * (its suffix is the rule minus its leftmost label); otherwise the
    * matching rule with the most labels wins.
    */
  private def suffixLabels(labels: List[String]): Int = {
    val n = labels.length
    var best = 0
    var i = n - 1
    while (i >= 0) {
      val cand = labels.drop(i).mkString(".")
      if (exceptions.contains(cand)) return n - i - 1
      val hit = exact.contains(cand) ||
        (i < n - 1 && wildcardParents.contains(labels.drop(i + 1).mkString(".")))
      if (hit) best = n - i
      i -= 1
    }
    best
  }

  case class Parsed(subdomain: Option[String], domain: String, suffix: String)

  /** tldextract-style split: longest matching public suffix wins; the label
    * before it is the registered domain; the rest is the subdomain. An
    * unlisted TLD is NOT a suffix (tldextract semantics: `localhost` is a
    * domain, not a suffix — no implicit `*` fallback rule).
    */
  def parse(fqdnRaw: String): Parsed = {
    val fqdn = Option(fqdnRaw).getOrElse("").toLowerCase.stripSuffix(".")
    val labels = fqdn.split('.').toList.filter(_.nonEmpty)
    if (labels.isEmpty) return Parsed(None, "", "")
    val suffixLen = suffixLabels(labels)
    val (rest, suffix) = labels.splitAt(labels.length - suffixLen)
    rest match {
      case Nil => Parsed(None, "", suffix.mkString("."))
      case r =>
        val sub = r.init.mkString(".")
        // reference: `subdomain or None`, www stripped upstream
        val subOpt = if (sub.isEmpty || sub == "www") None else Some(sub)
        Parsed(subOpt, r.last, suffix.mkString("."))
    }
  }

  /** Registered domain = domain + suffix (tldextract `registered_domain`,
    * `ranking_urls_generator.py:151`).
    */
  def registeredDomain(fqdn: String): String = {
    val p = parse(fqdn)
    if (p.domain.isEmpty) ""
    else if (p.suffix.isEmpty) p.domain
    else s"${p.domain}.${p.suffix}"
  }
}
