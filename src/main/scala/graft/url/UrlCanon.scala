package graft.url

/** RFC 3986 URL canonicalization, reference resolution and the reference's
  * URL fixups.
  *
  * Canonical form (north_rule: "RFC 3986 normalization, host-salted 64-bit
  * xxHash"):
  *   - scheme and host lowercased
  *   - default ports dropped (http:80, https:443)
  *   - dot-segments resolved (RFC 3986 §5.2.4)
  *   - empty path with authority → "/"
  *   - percent-encoding normalized: hex uppercased, unreserved chars decoded
  *   - raw spaces encoded as %20 (reference fixup, ICRA.py:45)
  *   - HTML-escaped ampersands unescaped: "&amp;" → "&" (ICRA.py:76)
  *   - fragment dropped
  *
  * All functions are pure and deterministic — safe for Catalyst to reorder,
  * usable from codegen'd expressions and plain UDFs alike.
  */
object UrlCanon {

  /** Parsed URL per RFC 3986 appendix B. */
  final case class Parts(
      scheme: Option[String],
      authority: Option[String],
      path: String,
      query: Option[String],
      fragment: Option[String]
  ) {
    def host: String = {
      val a = authority.getOrElse("")
      val afterUser = a.lastIndexOf('@') match {
        case -1 => a
        case i  => a.substring(i + 1)
      }
      // strip :port (IPv6 not needed for the reference's URL space)
      afterUser.indexOf(':') match {
        case -1 => afterUser
        case i  => afterUser.substring(0, i)
      }
    }
    def port: Option[String] = {
      val a = authority.getOrElse("")
      val afterUser = a.lastIndexOf('@') match {
        case -1 => a
        case i  => a.substring(i + 1)
      }
      afterUser.indexOf(':') match {
        case -1 => None
        case i  => Some(afterUser.substring(i + 1))
      }
    }
  }

  private val UrlRe =
    """^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$""".r

  def parse(url: String): Parts = url match {
    case UrlRe(scheme, auth, path, query, frag) =>
      Parts(Option(scheme), Option(auth), if (path == null) "" else path,
        Option(query), Option(frag))
    case _ => Parts(None, None, url, None, None)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) {
        in = "/" + in.substring(4)
        if (out.nonEmpty) out.remove(out.length - 1)
      } else if (in == "/..") {
        in = "/"
        if (out.nonEmpty) out.remove(out.length - 1)
      } else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        val seg = if (next == -1) in else in.substring(0, next)
        out += seg
        in = if (next == -1) "" else in.substring(next)
      }
    }
    out.mkString
  }

  private def isUnreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** Normalize percent-encoding: uppercase hex, decode unreserved, encode
    * raw spaces as %20.
    */
  def normalizeEncoding(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && isHex(s.charAt(i + 1)) &&
          isHex(s.charAt(i + 2))) {
        val hi = Character.digit(s.charAt(i + 1), 16)
        val lo = Character.digit(s.charAt(i + 2), 16)
        val decoded = ((hi << 4) | lo).toChar
        if (isUnreserved(decoded)) sb.append(decoded)
        else sb.append('%').append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else if (c == ' ') { sb.append("%20"); i += 1 }
      else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean = Character.digit(c, 16) >= 0

  /** Full canonicalization; idempotent (property-tested). */
  def canonicalize(url: String): String = {
    if (url == null) return null
    val fixed = url.trim.replace("&amp;", "&") // ICRA.py:76 fixup
    val p = parse(fixed)
    val scheme = p.scheme.map(_.toLowerCase)
    val hostL = p.host.toLowerCase
    val port = p.port.filterNot(pt =>
      (scheme.contains("http") && pt == "80") ||
        (scheme.contains("https") && pt == "443") || pt.isEmpty)
    val auth = p.authority.map { _ =>
      hostL + port.map(":" + _).getOrElse("")
    }
    var path = normalizeEncoding(removeDotSegments(p.path))
    if (auth.isDefined && path.isEmpty) path = "/"
    val query = p.query.map(normalizeEncoding)
    val sb = new StringBuilder
    scheme.foreach(s => sb.append(s).append(':'))
    auth.foreach(a => sb.append("//").append(a))
    sb.append(path)
    query.foreach(q => sb.append('?').append(q))
    sb.toString
  }

  /** Host of a URL (lowercased); "" if none. */
  def hostOf(url: String): String =
    if (url == null) "" else parse(url.trim).host.toLowerCase

  /** Path (incl. leading '/') of a URL; "/" when rootless. The SINGLE
    * definition behind every robots path-prefix match
    * ([[graft.frontier.PoliteScheduler.allowed]]) and behind the
    * `url_path` SQL function ([[pathCol]]).
    */
  def pathOf(url: String): String = {
    val i = url.indexOf("://")
    val rest = if (i >= 0) url.substring(i + 3) else url
    val j = rest.indexOf('/')
    if (j >= 0) rest.substring(j) else "/"
  }

  /** Column form of [[pathOf]]: the [[graft.functions.UrlPath]] codegen
    * expression (`url_path`), which calls pathOf itself, so the column and
    * row results cannot diverge on any input (an earlier regex twin
    * differed on uppercase schemes and embedded newlines).
    */
  def pathCol(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.ColumnBridge.column(
      graft.functions.UrlPath(
        org.apache.spark.sql.graftshim.ColumnBridge.expression(url)))

  /** RFC 3986 §5.2.2 reference resolution — semantics of Python's
    * urljoin (reference: text/architectural_119.py:137,150,212,216).
    */
  def resolve(base: String, ref: String): String = {
    if (ref == null || ref.isEmpty) return base
    val b = parse(base)
    val r = parse(ref)
    val (scheme, auth, path, query) =
      if (r.scheme.isDefined && r.scheme != b.scheme)
        (r.scheme, r.authority, removeDotSegments(r.path), r.query)
      else if (r.authority.isDefined)
        (b.scheme, r.authority, removeDotSegments(r.path), r.query)
      else if (r.path.isEmpty)
        (b.scheme, b.authority, b.path, r.query.orElse(b.query))
      else if (r.path.startsWith("/"))
        (b.scheme, b.authority, removeDotSegments(r.path), r.query)
      else {
        val merged =
          if (b.authority.isDefined && b.path.isEmpty) "/" + r.path
          else {
            val i = b.path.lastIndexOf('/')
            if (i == -1) r.path else b.path.substring(0, i + 1) + r.path
          }
        (b.scheme, b.authority, removeDotSegments(merged), r.query)
      }
    val sb = new StringBuilder
    scheme.foreach(s => sb.append(s).append(':'))
    auth.foreach(a => sb.append("//").append(a))
    sb.append(path)
    query.foreach(q => sb.append('?').append(q))
    r.fragment.foreach(f => sb.append('#').append(f))
    sb.toString
  }

  // ---- reference URL fixups (SURVEY.md E16) -------------------------------

  /** arxiv abs page → pdf page (arxiv/citations.py:68). */
  def absToPdf(url: String): String = url.replace("abs", "pdf")

  /** ISCA: .html → .pdf (conference/ISCA.py:85). */
  def htmlToPdf(url: String): String = url.replace(".html", ".pdf")

  /** cn-mirror rewrite for digest links (arxiv.py:164). */
  def cnMirror(url: String): String =
    url.replace("https://arxiv", "http://cn.arxiv")

  // ---- filename derivation (SURVEY.md E17) --------------------------------

  /** Python os.path.basename on a URL string — keeps query string!
    * (arxiv/search_pdf.py:96, conference/ICML.py:38)
    */
  def basename(url: String): String = {
    val i = url.lastIndexOf('/')
    if (i == -1) url else url.substring(i + 1)
  }

  /** openreview `?id=` suffix (conference/ICLR.py:27-28). */
  def openreviewId(url: String): String = {
    val k = url.indexOf("?id=")
    if (k == -1) url else url.substring(k + 4)
  }

  /** `{owner}_{repo}` from the path (getrepository.py:175-177). */
  def ownerRepo(url: String): String = {
    val segs = parse(url).path.split('/').filter(_.nonEmpty)
    if (segs.length >= 2) segs(0) + "_" + segs(1)
    else segs.mkString("_")
  }

  /** ISCA sanitize: '/' and '\' → '_' (conference/ISCA.py:70-71). */
  def sanitizeIsca(name: String): String =
    name.replace('/', '_').replace('\\', '_')

  /** Blog sanitize: '/' and ' ' → '_' (text/architectural_119.py:278-283). */
  def sanitizeTitle(name: String): String =
    name.replace('/', '_').replace(' ', '_')
}
