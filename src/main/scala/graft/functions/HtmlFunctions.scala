package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML field extraction (SURVEY §2.9, H1–H11) — the reference's CSS-selector
  * scrapers (reference src/extractors/bulk_scraper.py:86-192) re-expressed as
  * regex Catalyst expressions over a canonical detail-page/search-page HTML
  * shape.
  *
  * Design choice: regex `Expression`s instead of a DOM-parser UDF. The
  * reference's selectors are all shallow (`select_one` by tag/class/attr,
  * `a[href^=...]`), which a regex over well-formed markup captures exactly —
  * and regexes stay inside whole-stage codegen, where a jsoup UDF would break
  * the pipeline into serialized row-at-a-time calls. All patterns are
  * RE2-compatible (no backrefs/lookarounds) so ANSI engines can replay them.
  */
object HtmlFunctions {

  /** H1 — text of the first element with the given class:
    * `<tag class="c">text</tag>` (bulk_scraper.py:113-116). */
  def htmlClassText(html: Column, cls: String): Column =
    nullif(regexp_extract(html, s"""class="$cls"[^>]*>([^<]*)<""", 1), lit(""))

  /** H2 — all tel: link texts (`a[href^="tel:"]`, bulk_scraper.py:118-121). */
  def htmlPhones(html: Column): Column =
    regexp_extract_all(html, lit("""<a href="tel:([^"]*)""""), lit(1))

  /** H3 — the raw wa.me link href, "" when the page has none. */
  def htmlWhatsappHref(html: Column): Column =
    regexp_extract(html, """<a href="(https://wa\.me/[^"]*)"""", 1)

  /** H3 — WhatsApp number from a wa.me link (bulk_scraper.py:123-141):
    * `phone` query param, else first digit run of the `text` param. */
  def htmlWhatsapp(html: Column): Column =
    CleanFunctions.whatsappNumber(htmlWhatsappHref(html), lit(""))

  /** H4 — website: `a[itemprop="url"]` href (bulk_scraper.py:143-147). */
  def htmlWebsite(html: Column): Column =
    nullif(regexp_extract(html, """<a itemprop="url" href="([^"]*)"""", 1), lit(""))

  /** H5 — email: mailto: href containing '@' (bulk_scraper.py:149-157). */
  def htmlEmail(html: Column): Column = {
    val m = regexp_extract(html, """<a href="mailto:([^"]*@[^"]*)"""", 1)
    nullif(m, lit(""))
  }

  /** H6 — first social link for a domain (bulk_scraper.py:159-162).
    * The domain's dots are escaped (the oracle mirror already does this):
    * unescaped, `facebook.com` would match any char at the dot and a
    * `facebookXcom...` href would extract as the facebook field. */
  def htmlSocial(html: Column, domain: String): Column =
    nullif(regexp_extract(html,
      s"""<a href="(https?://(?:www\\.)?${domain.replace(".", "\\.")}[^"]*)"""",
      1), lit(""))

  /** H7 — opening hours: clock-icon sibling span + F13 status-word cleanup
    * (bulk_scraper.py:164-176). */
  def htmlHours(html: Column): Column =
    nullif(CleanFunctions.cleanHorarios(
      regexp_extract(html, """<span class="horarios">([^<]*)</span>""", 1)), lit(""))

  /** H8 — category link texts (bulk_scraper.py:178-187). */
  def htmlCategories(html: Column): Column =
    regexp_extract_all(html,
      lit("""<a class="search-result-link">([^<]*)</a>"""), lit(1))

  /** H9 — map coordinates from data attributes (bulk_scraper.py:189-192). */
  def htmlLat(html: Column): Column =
    nullif(regexp_extract(html, """data-lat="([^"]*)"""", 1), lit("")).cast("double")
  def htmlLng(html: Column): Column =
    nullif(regexp_extract(html, """data-lng="([^"]*)"""", 1), lit("")).cast("double")

  /** H10 — search-results page → many (id, url) rows (manual_scraper.py:46-78).
    * Returns an array of structs for explode — the UDTF/Generator case. */
  def htmlResultCards(html: Column): Column =
    transform(
      regexp_extract_all(html,
        lit("""<div class="card-mobile gc-item" data-id="[0-9]*" data-url="[^"]*""""),
        lit(0)),
      card => struct(
        regexp_extract(card, """data-id="([0-9]*)"""", 1).cast("long").as("id_negocio"),
        regexp_extract(card, """data-url="([^"]*)"""", 1).as("url")))
}
