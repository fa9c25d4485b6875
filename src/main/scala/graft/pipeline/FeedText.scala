package graft.pipeline

/** Web-feed and sitemap parsing — RSS 2.0 (RSS Advisory Board spec),
  * Atom (RFC 4287), and XML sitemaps (sitemaps.org protocol) — the
  * crawl-frontier surface of a web-scale pipeline: feeds and sitemaps
  * are how a crawler discovers the URLs the rest of this engine
  * ingests (same family as [[UrlOps]] / [[RobotsOps]] / [[WarcIO]]).
  *
  * One single-pass scanner covers all three: track the enclosing entry
  * container (`item` / `entry` / `url`), capture character data of the
  * per-format field elements, decode the five XML named entities,
  * numeric charrefs, and CDATA sections inline. Atom links are an
  * `href` attribute on a self-closed element — the one attribute read.
  * Namespace prefixes on element names are stripped (RFC 4287 feeds
  * commonly arrive as `<atom:feed>`). No XML library, no DOM; bounded
  * and total (malformed input → null/partial, never a thrown task).
  *
  * Shape at 100 TB: per-row scan-stage kernels surfaced as the
  * codegen'd expressions `feed_kind` / `feed_entries`
  * ([[graft.plans.FeedExprs]]); feed bytes never shuffle — explode the
  * (small) parsed entry array, not the document. */
object FeedText {

  /** One discovered entry: `title` (null for sitemaps), `link`, and the
    * format's timestamp string (`pubDate` / `updated` / `lastmod`). */
  final case class Entry(title: String, link: String, ts: String)

  /** Root-element sniff: `rss | atom | sitemap | null`. */
  def kind(xml: String): String = {
    if (xml == null) return null
    var i = 0
    val n = xml.length
    while (i < n) {
      val lt = xml.indexOf('<', i)
      if (lt < 0 || lt + 1 >= n) return null
      val c = xml.charAt(lt + 1)
      if (c == '?' || c == '!') { // prolog / comment / doctype: skip it
        val gt = xml.indexOf('>', lt)
        if (gt < 0) return null
        i = gt + 1
      } else {
        val gt = xml.indexOf('>', lt)
        if (gt < 0) return null
        localName(xml.substring(lt + 1, gt)) match {
          case "rss" => return "rss"
          case "feed" => return "atom"
          case "urlset" | "sitemapindex" => return "sitemap"
          case _ => return null
        }
      }
    }
    null
  }

  /** All entries of a recognized feed, document order; null when the
    * root element is not a feed. Truncated documents yield the entries
    * completed before the truncation point. */
  def entries(xml: String): Array[Entry] = {
    val k = kind(xml)
    if (k == null) return null
    val (container, titleEl, linkEl, tsEl) = k match {
      case "rss" => ("item", "title", "link", "pubDate")
      case "atom" => ("entry", "title", "link", "updated")
      case _ => ("url", null, "loc", "lastmod")
    }
    val out = Vector.newBuilder[Entry]
    var inEntry = false
    var field: String = null // which field element we're capturing
    var title: String = null; var link: String = null; var ts: String = null
    val sb = new java.lang.StringBuilder()
    var i = 0
    val n = xml.length
    try {
      while (i < n) {
        val c = xml.charAt(i)
        if (c == '<') {
          if (xml.startsWith("<![CDATA[", i)) {
            val end = xml.indexOf("]]>", i + 9)
            if (end < 0) return out.result().toArray // truncated
            if (field != null) sb.append(xml, i + 9, end)
            i = end + 3
          } else if (xml.startsWith("<!--", i)) {
            val end = xml.indexOf("-->", i + 4)
            if (end < 0) return out.result().toArray
            i = end + 3
          } else {
            val gt = xml.indexOf('>', i)
            if (gt < 0) return out.result().toArray
            val inner = xml.substring(i + 1, gt)
            val isEnd = inner.startsWith("/")
            val isSelf = inner.endsWith("/")
            val body = inner.stripPrefix("/").stripSuffix("/").trim
            val tag = localName(body)
            if (isEnd) {
              if (tag == container && inEntry) {
                out += Entry(title, link, ts)
                inEntry = false; title = null; link = null; ts = null
              } else if (inEntry && field != null && tag == field) {
                val v = decodeEntities(sb.toString)
                if (field == titleEl) title = v
                else if (field == linkEl) link = v
                else ts = v
                field = null; sb.setLength(0)
              }
            } else {
              if (tag == container && !inEntry) {
                inEntry = true; title = null; link = null; ts = null
              } else if (inEntry) {
                // Atom <link href="..."/> — attribute, not char data
                if (k == "atom" && tag == linkEl) {
                  val href = attr(body, "href")
                  if (href != null) link = decodeEntities(href)
                } else if (!isSelf &&
                    (tag == titleEl || tag == linkEl || tag == tsEl)) {
                  field = tag; sb.setLength(0)
                }
              }
            }
            i = gt + 1
          }
        } else {
          if (field != null) sb.append(c)
          i += 1
        }
      }
      out.result().toArray
    } catch { case _: Exception => null }
  }

  /** Element name with any namespace prefix stripped. */
  private def localName(tagBody: String): String = {
    val name = tagBody.takeWhile(ch => !ch.isWhitespace)
    val colon = name.indexOf(':')
    if (colon >= 0) name.substring(colon + 1) else name
  }

  /** Value of one attribute in a tag body, or null. */
  private def attr(tagBody: String, name: String): String = {
    var from = 0
    while (true) {
      val at = tagBody.indexOf(name + "=", from)
      if (at < 0) return null
      // must start an attribute name: only whitespace may precede it —
      // a letter/digit would be a suffix match (xhref), and '-' '.' ':'
      // '_' are legal NAME chars, so data-href / xlink:href must not
      // be misread as href (attributes are whitespace-separated in XML)
      if (at == 0 || Character.isWhitespace(tagBody.charAt(at - 1))) {
        val q = at + name.length + 1
        if (q < tagBody.length && (tagBody.charAt(q) == '"' || tagBody.charAt(q) == '\'')) {
          val quote = tagBody.charAt(q)
          val end = tagBody.indexOf(quote, q + 1)
          if (end < 0) return null
          return tagBody.substring(q + 1, end)
        }
      }
      from = at + 1
    }
    null
  }

  /** The five XML named entities + numeric charrefs. */
  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val dec = ent match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try new String(Character.toChars(Integer.parseInt(e.drop(2), 16)))
              catch { case _: Exception => null }
            case e if e.startsWith("#") =>
              try new String(Character.toChars(Integer.parseInt(e.drop(1))))
              catch { case _: Exception => null }
            case _ => null
          }
          if (dec != null) { sb.append(dec); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ------------------------------------------------------------- encoders

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** Minimal RSS 2.0; titles wrapped in CDATA (the common wild form). */
  def encodeRss(entries: Seq[Entry]): String = {
    val items = entries.map { e =>
      s"<item><title><![CDATA[${e.title}]]></title><link>${esc(e.link)}</link>" +
        s"<pubDate>${esc(e.ts)}</pubDate></item>"
    }.mkString
    "<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
      "<title>feed</title>" + items + "</channel></rss>"
  }

  /** Minimal RFC 4287 Atom; titles entity-escaped, links as href. */
  def encodeAtom(entries: Seq[Entry]): String = {
    val items = entries.map { e =>
      s"<entry><title>${esc(e.title)}</title><link href=\"${esc(e.link)}\"/>" +
        s"<updated>${esc(e.ts)}</updated></entry>"
    }.mkString
    "<?xml version=\"1.0\"?><feed xmlns=\"http://www.w3.org/2005/Atom\">" +
      "<title>feed</title>" + items + "</feed>"
  }

  /** Test/bench synthesis: one feed per doc by a doc_id % 3 rule
    * (rss | atom | sitemap), three entries each; titles exercise XML
    * entities (RSS routes them through CDATA, Atom through escapes). */
  def wrapCorpus(spark: org.apache.spark.sql.SparkSession,
                 docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      val es = (0 to 2).map(k =>
        Entry(s"doc & <$id #$k", s"https://ex.com/$id/$k", s"2026-01-0${k + 1}"))
      val xml = (id % 3) match {
        case 0 => encodeRss(es)
        case 1 => encodeAtom(es)
        case _ => encodeSitemap(es)
      }
      (id, xml)
    }.toDF("doc_id", "xml")
  }

  /** Minimal sitemaps.org urlset (no titles in the protocol). */
  def encodeSitemap(entries: Seq[Entry]): String = {
    val urls = entries.map { e =>
      s"<url><loc>${esc(e.link)}</loc><lastmod>${esc(e.ts)}</lastmod></url>"
    }.mkString
    "<?xml version=\"1.0\"?>" +
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
      urls + "</urlset>"
  }
}
