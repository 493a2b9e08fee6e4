package graft.functions

/** Tolerant HTML parsing for the reference-markup extractor
  * ([[ReferenceHtml]], SURVEY §2.9, H1–H11).
  *
  * The reference parses scraped pages with BeautifulSoup
  * (reference src/extractors/bulk_scraper.py:64-111), which survives
  * real-web markup: unquoted or single-quoted attribute values, reordered
  * attributes, reordered class tokens, case-mixed tag/attr names, unclosed
  * tags, stray close tags, comments. Exact-string regexes over the markup
  * silently miss on such variants. This hand-written parser (no HTML
  * library ships on the Spark classpath) recovers the tolerance: one
  * forward scan tokenizes tags, a stack builds the tree, close-tag
  * recovery pops to the nearest matching open tag and ignores strays, and
  * EOF closes everything still open.
  *
  * Scale shape: one parse per page inside a deterministic UDF —
  * row-at-a-time, like every DOM parser (BeautifulSoup included).
  */
sealed trait DomNode

final case class DomText(text: String) extends DomNode

final case class DomElement(tag: String, attrs: List[(String, String)],
    children: Vector[DomNode]) extends DomNode {

  def attr(name: String): Option[String] =
    attrs.collectFirst { case (k, v) if k == name => v }

  /** Class-token match: `class` is a whitespace-separated token LIST, so
    * `hasClass("fa-cloud")` matches `class="fa fa-cloud"` in any order —
    * the CSS `.c` semantics an exact-string match lacks. */
  def hasClass(c: String): Boolean =
    attr("class").exists(_.split("\\s+").contains(c))

  def childElements: Vector[DomElement] =
    children.collect { case e: DomElement => e }

  /** Pre-order subtree elements, self excluded. Explicit-stack traversal:
    * tolerant parsing admits arbitrarily deep (adversarial) nesting, so no
    * tree walk may recurse on depth (DomFuzzSpec pathological suite). */
  def descendants: Vector[DomElement] = {
    val out = Vector.newBuilder[DomElement]
    var stack: List[DomElement] = childElements.toList
    while (stack.nonEmpty) {
      val e = stack.head
      stack = stack.tail
      out += e
      stack = e.childElements.toList ::: stack
    }
    out.result()
  }

  /** BeautifulSoup `get_text(strip=True)`: each text segment trimmed,
    * non-empty segments concatenated. Explicit-stack for depth robustness. */
  def text: String = {
    val sb = new StringBuilder
    var stack: List[DomNode] = children.toList
    while (stack.nonEmpty) {
      stack.head match {
        case DomText(t) =>
          stack = stack.tail
          val s = t.trim; if (s.nonEmpty) sb.append(s)
        case e: DomElement =>
          stack = e.children.toList ::: stack.tail
      }
    }
    sb.toString
  }
}

/** A parsed page plus the document-order/sibling indexes the selector
  * surface needs (identity-keyed — structurally equal elements are still
  * distinct positions in the document). */
final class DomDoc(val root: DomElement) {
  /** All elements in document (pre-)order. */
  val all: Vector[DomElement] = root.descendants

  // lazy: only the lead path's sibling lookups need it — the cards path
  // (every discovery page) reads `all` alone and skips this second walk
  private lazy val parentOf = {
    val m = new java.util.IdentityHashMap[DomElement, DomElement]()
    var stack: List[DomElement] = root :: Nil
    while (stack.nonEmpty) {
      val e = stack.head
      stack = stack.tail
      val kids = e.childElements
      kids.foreach(m.put(_, e))
      stack = kids.toList ::: stack
    }
    m
  }

  /** CSS `+`: the immediately following element sibling (text skipped). */
  def nextElementSibling(e: DomElement): Option[DomElement] =
    Option(parentOf.get(e)).flatMap { p =>
      val sibs = p.childElements
      val i = sibs.indexWhere(_ eq e)
      if (i >= 0 && i + 1 < sibs.length) Some(sibs(i + 1)) else None
    }

  /** BeautifulSoup `find_next(p)`: first element AFTER `e` in document
    * order (descendants of `e` included, exactly as find_next walks). */
  def findNext(e: DomElement)(p: DomElement => Boolean): Option[DomElement] = {
    val i = all.indexWhere(_ eq e)
    if (i < 0) None else all.drop(i + 1).find(p)
  }
}

object TolerantDom {
  private val voidTags = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "param", "source", "track", "wbr")
  private val rawTextTags = Set("script", "style")

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'

  /** HTML5 numeric-character-reference-end-state remap: refs in the C1
    * range 0x80-0x9F decode per the windows-1252 table (a browser turns
    * `&#146;` in a Word-authored page into U+2019 ', not an invisible
    * control char). The five code points absent from the spec table
    * (0x81 0x8D 0x8F 0x90 0x9D) pass through unchanged, as browsers do. */
  private val ncrRemap: Map[Int, Int] = Map(
    0x80 -> 0x20AC, 0x82 -> 0x201A, 0x83 -> 0x0192, 0x84 -> 0x201E,
    0x85 -> 0x2026, 0x86 -> 0x2020, 0x87 -> 0x2021, 0x88 -> 0x02C6,
    0x89 -> 0x2030, 0x8A -> 0x0160, 0x8B -> 0x2039, 0x8C -> 0x0152,
    0x8E -> 0x017D, 0x91 -> 0x2018, 0x92 -> 0x2019, 0x93 -> 0x201C,
    0x94 -> 0x201D, 0x95 -> 0x2022, 0x96 -> 0x2013, 0x97 -> 0x2014,
    0x98 -> 0x02DC, 0x99 -> 0x2122, 0x9A -> 0x0161, 0x9B -> 0x203A,
    0x9C -> 0x0153, 0x9E -> 0x017E, 0x9F -> 0x0178)

  /** Named refs BeautifulSoup resolves that real pages on a SPANISH
    * business directory actually carry: the XML five, the full HTML 4
    * Latin-1 block (`&ntilde;` `&eacute;` … — U+00A0-U+00FF in table
    * order), and the common punctuation/symbol set (dashes, curly quotes,
    * ellipsis, euro, trade). Unknown names stay literal text, as a browser
    * leaves them. */
  private val latin1Names = Seq( // HTML 4 Latin-1 names, codepoint order from U+00A0
      "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
      "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr", "deg",
      "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot", "cedil",
      "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
      "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig",
      "Ccedil", "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute",
      "Icirc", "Iuml", "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc",
      "Otilde", "Ouml", "times", "Oslash", "Ugrave", "Uacute", "Ucirc",
      "Uuml", "Yacute", "THORN", "szlig", "agrave", "aacute", "acirc",
      "atilde", "auml", "aring", "aelig", "ccedil", "egrave", "eacute",
      "ecirc", "euml", "igrave", "iacute", "icirc", "iuml", "eth", "ntilde",
      "ograve", "oacute", "ocirc", "otilde", "ouml", "divide", "oslash",
      "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")

  /** The HTML5 legacy set (§13.2 named-character-reference state): the
    * refs browsers decode WITHOUT a trailing semicolon — exactly the
    * Latin-1 block plus quot/amp/lt/gt and the spec's six uppercase
    * variants. Real Word-authored pages carry e.g. `&ntilde` bare. */
  private val legacyNames: Seq[String] = latin1Names ++
    Seq("quot", "amp", "lt", "gt", "AMP", "COPY", "GT", "LT", "QUOT", "REG")

  private val namedEntities: Map[String, Int] = {
    val latin1 = latin1Names
      .zipWithIndex.map { case (n, i) => n -> (0xA0 + i) }
    val punct = Seq(
      "quot" -> 34, "amp" -> 38, "apos" -> 39, "lt" -> 60, "gt" -> 62,
      "AMP" -> 38, "COPY" -> 169, "GT" -> 62, "LT" -> 60, "QUOT" -> 34,
      "REG" -> 174,
      "OElig" -> 338, "oelig" -> 339, "Scaron" -> 352, "scaron" -> 353,
      "Yuml" -> 376, "fnof" -> 402, "circ" -> 710, "tilde" -> 732,
      "ensp" -> 8194, "emsp" -> 8195, "thinsp" -> 8201, "zwnj" -> 8204,
      "zwj" -> 8205, "lrm" -> 8206, "rlm" -> 8207, "ndash" -> 8211,
      "mdash" -> 8212, "lsquo" -> 8216, "rsquo" -> 8217, "sbquo" -> 8218,
      "ldquo" -> 8220, "rdquo" -> 8221, "bdquo" -> 8222, "dagger" -> 8224,
      "Dagger" -> 8225, "bull" -> 8226, "hellip" -> 8230, "permil" -> 8240,
      "prime" -> 8242, "Prime" -> 8243, "lsaquo" -> 8249, "rsaquo" -> 8250,
      "oline" -> 8254, "frasl" -> 8260, "euro" -> 8364, "trade" -> 8482,
      "minus" -> 8722)
    (latin1 ++ punct).toMap
  }

  /** Entity decode (the named table above plus decimal/hex numeric refs)
    * in ONE pass: a replacement's output is never rescanned, so `&#38;amp;`
    * yields the literal text `&amp;` (as a browser does) instead of
    * double-decoding to `&` the way chained replace passes would.
    *
    * Semicolon rules, per HTML5's named-character-reference state with
    * THIS table: a `name;` ref decodes iff `name` is in the table
    * (unknown `name;` stays literal — see the branch comment for why the
    * full-table browser's prefix consumption is deliberately NOT
    * replicated); a BARE name decodes its longest legacy-set match and
    * leaves the rest literal (the spec's "&notit" → "¬it" behavior —
    * `&ntilde` without the semicolon is what Word-authored pages actually
    * emit). In an ATTRIBUTE value a bare legacy ref followed by an ASCII
    * alphanumeric or `=` stays literal (the spec rule that keeps
    * `?a=1&copy=2` URLs intact). Numeric refs still require the
    * semicolon — a deliberate simplification; `&#65` bare is vanishingly
    * rare next to bare `&nbsp`/`&ntilde`. Malformed refs (`&#abc;`,
    * unknown names) stay literal text. */
  private val entityRef =
    ("&(#(?:[0-9]+|[xX][0-9a-fA-F]+);|[a-zA-Z][a-zA-Z0-9]*;|" +
      // legacy bare names, longest-first so the alternation is greedy
      legacyNames.sortBy(n => (-n.length, n)).mkString("|") + ")").r

  private[functions] def decodeEntities(s: String, inAttr: Boolean = false): String =
    if (s.indexOf('&') < 0) s
    else entityRef.replaceAllIn(s, m => {
      val body = m.group(1)
      val out = if (body.charAt(0) == '#') {
        val d = body.substring(1, body.length - 1) // drop '#' and ';'
        val cp = try {
          if (d.charAt(0) == 'x' || d.charAt(0) == 'X')
            Integer.parseInt(d.substring(1), 16)
          else Integer.parseInt(d)
        } catch { case _: NumberFormatException => 0x110000 } // overflow = out of range
        // HTML5 NCR parse errors — null, surrogate range, beyond U+10FFFF —
        // decode to U+FFFD (what a DOM parser emits), never to a lone
        // surrogate: Character.isValidCodePoint ACCEPTS surrogates, and
        // toChars on one would embed ill-formed UTF-16 in extracted fields
        // that downstream CSV/JSON writers mangle codec-dependently
        if (cp == 0 || (cp >= 0xD800 && cp <= 0xDFFF) || cp > 0x10FFFF) "�"
        else new String(Character.toChars(ncrRemap.getOrElse(cp, cp)))
      } else if (body.endsWith(";")) {
        val name = body.substring(0, body.length - 1)
        namedEntities.get(name) match {
          case Some(cp) => new String(Character.toChars(cp))
          // unknown name; stays LITERAL — a deliberate deviation from a
          // full-table browser, which would consume a legacy prefix
          // ("&copyright;" really renders "©right;"). With THIS partial
          // table, prefix-consuming would corrupt genuine HTML5 entities
          // we simply don't carry ("&notin;" → "¬in;" where a browser
          // renders ∉, and "&ltrif;" would inject a literal '<'); leaving
          // them literal is visibly recoverable either way.
          case None => m.matched
        }
      } else {
        // bare legacy ref (the alternation only matches known legacy
        // names). Attribute rule: followed by ASCII alnum or '=' it is
        // NOT a character reference — "?a=1&copy=2" stays a URL.
        val next = m.end
        val blocked = inAttr && next < s.length && {
          val c = s.charAt(next)
          c == '=' || (c >= '0' && c <= '9') ||
            (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        }
        if (blocked) m.matched
        else new String(Character.toChars(namedEntities(body)))
      }
      java.util.regex.Matcher.quoteReplacement(out)
    })

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    val limit = s.length - needle.length
    while (i <= limit) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  def parse(html: String): DomDoc = {
    val n = html.length
    final class Frame(val tag: String, val attrs: List[(String, String)]) {
      val children = Vector.newBuilder[DomNode]
    }
    val rootFrame = new Frame("#root", Nil)
    var stack: List[Frame] = rootFrame :: Nil
    def closeTop(): Unit = {
      val f = stack.head
      stack = stack.tail
      stack.head.children += DomElement(f.tag, f.attrs, f.children.result())
    }
    val textBuf = new StringBuilder
    def flushText(): Unit =
      if (textBuf.nonEmpty) {
        stack.head.children += DomText(decodeEntities(textBuf.toString))
        textBuf.setLength(0)
      }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!' || c1 == '?') { // comment / doctype / PI: skip whole
          flushText()
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else {
            val e = html.indexOf('>', i)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '/') { // close tag, with recovery
          flushText()
          var j = i + 2
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(ns, j).toLowerCase
          val e = html.indexOf('>', j)
          i = if (e < 0) n else e + 1
          if (name.nonEmpty && stack.exists(_.tag == name)) {
            while (stack.head.tag != name) closeTop() // unclosed children
            closeTop()
          } // else: stray close tag, ignored
        } else if (isNameStart(c1)) { // open tag
          flushText()
          var j = i + 1
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(ns, j).toLowerCase
          val attrs = List.newBuilder[(String, String)]
          var selfClose = false
          var done = false
          while (!done && j < n) {
            while (j < n && html.charAt(j).isWhitespace) j += 1
            if (j >= n) done = true
            else if (html.charAt(j) == '>') { j += 1; done = true }
            else if (html.charAt(j) == '/' && j + 1 < n && html.charAt(j + 1) == '>') {
              j += 2; selfClose = true; done = true
            } else if (html.charAt(j) == '/') j += 1 // stray slash
            else { // attribute: name [= value], value "x" | 'x' | bare
              val as = j
              while (j < n && !html.charAt(j).isWhitespace &&
                html.charAt(j) != '=' && html.charAt(j) != '>' &&
                html.charAt(j) != '/') j += 1
              val aname = html.substring(as, j).toLowerCase
              while (j < n && html.charAt(j).isWhitespace) j += 1
              var avalue = ""
              if (j < n && html.charAt(j) == '=') {
                j += 1
                while (j < n && html.charAt(j).isWhitespace) j += 1
                if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
                  val q = html.charAt(j)
                  j += 1
                  val vs = j
                  while (j < n && html.charAt(j) != q) j += 1
                  avalue = html.substring(vs, j)
                  if (j < n) j += 1
                } else {
                  val vs = j
                  while (j < n && !html.charAt(j).isWhitespace &&
                    html.charAt(j) != '>') j += 1
                  avalue = html.substring(vs, j)
                }
              }
              if (aname.nonEmpty)
                attrs += aname -> decodeEntities(avalue, inAttr = true)
            }
          }
          i = j
          if (rawTextTags.contains(name)) {
            // raw-text element: content is code, never extractable text —
            // consume to the matching close tag and emit an empty element
            stack.head.children += DomElement(name, attrs.result(), Vector.empty)
            // the close tag needs a name BOUNDARY after it (whitespace, '/',
            // '>', or EOF) per the HTML5 tokenizer: `</scripty>` inside a
            // <script> body is script text, not the close of <script>
            var ci = indexOfIgnoreCase(html, "</" + name, i)
            while (ci >= 0 && {
              val b = ci + 2 + name.length
              b < n && !html.charAt(b).isWhitespace &&
                html.charAt(b) != '/' && html.charAt(b) != '>'
            }) ci = indexOfIgnoreCase(html, "</" + name, ci + 1)
            i = if (ci < 0) n else {
              val g = html.indexOf('>', ci)
              if (g < 0) n else g + 1
            }
          } else if (voidTags.contains(name) || selfClose) {
            stack.head.children += DomElement(name, attrs.result(), Vector.empty)
          } else {
            stack = new Frame(name, attrs.result()) :: stack
          }
        } else { // '<' not starting a tag: literal text
          textBuf.append(c)
          i += 1
        }
      } else {
        textBuf.append(c)
        i += 1
      }
    }
    flushText()
    while (stack.tail.nonEmpty) closeTop() // EOF closes everything open
    new DomDoc(DomElement("#root", Nil, rootFrame.children.result()))
  }
}
