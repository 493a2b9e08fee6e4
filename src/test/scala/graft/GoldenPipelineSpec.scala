package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{CleanFunctions => CF, ReferenceHtml => RH}

/** End-to-end golden tests over the FIXTURES.md §B fixtures — the recreated
  * stand-ins for the reference's lost `data/html_samples` (SURVEY §5.4).
  * Exercises the reference's REAL selector structures (ReferenceHtml) and the
  * full raw→clean→golden-CSV lead path with every edge case FIXTURES.md §B1
  * enumerates (phone-length branches, dash-variant dup phones, invalid
  * email/URL, guiacores social noise, address split, whitespace collapse,
  * first-wins dedup).
  */
class GoldenPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def resource(path: String): String =
    getClass.getResource(path).getPath

  private def readHtml(name: String): DataFrame =
    spark.read.format("binaryFile").load(resource(s"/html/$name"))
      .select(col("content").cast("string").as("html"))

  private val base = "https://www.guiacores.com.ar/"

  test("B3 detail page: primary selectors extract the full record (H1-H9)") {
    val row = readHtml("detail_page.html")
      .select(RH.leadRecord(col("html"), lit(42L), lit("u42")).as("r"))
      .select("r.*").head()
    assert(row.getAs[String]("nombre") == "Ferretería  El Tornillo")
    assert(row.getAs[String]("direccion") == "Av. San Martín 1234 - (3000) Santa Fe")
    assert(row.getAs[scala.collection.Seq[String]]("telefonos").toSeq ==
      Seq("342 455-5000", "+54 9 342 612-3456"))
    assert(row.getAs[String]("whatsapp") == "5493424555000") // phone param wins
    assert(row.getAs[String]("sitio_web") == "https://www.eltornillo.com.ar")
    assert(row.getAs[String]("email") == "ventas@eltornillo.com.ar")
    assert(row.getAs[String]("facebook") == "https://www.facebook.com/eltornillosf")
    assert(row.getAs[String]("instagram") == "https://instagram.com/eltornillosf")
    assert(row.getAs[String]("horarios") == "Lun a Vie 8:00-12:30 y 16:00-20:00")
    assert(row.getAs[scala.collection.Seq[String]]("rubros").toSeq ==
      Seq("Ferreterías", "Pinturerías"))
    assert(row.getAs[String]("descripcion") == "Venta de herramientas  y materiales.")
    assert(row.getAs[Double]("latitud") == -31.6333)
    assert(row.getAs[Double]("longitud") == -60.70)
  }

  test("B3 fallback page: fa-cloud/fa-envelope/text-param/category paths (H3-H8)") {
    val row = readHtml("detail_page_fallbacks.html")
      .select(RH.leadRecord(col("html"), lit(43L), lit("u43")).as("r"))
      .select("r.*").head()
    // all 15 fields pinned: this page is the only fixture that reaches the
    // fallback selectors, so every field's value is an explicit expectation
    assert(row.getAs[Long]("id_negocio") == 43L)
    assert(row.getAs[String]("url") == "u43")
    assert(row.getAs[String]("nombre") == "Panadería La Espiga")
    // the clock's next span also carries the address class; the first wins
    assert(row.getAs[String]("direccion") == "Belgrano 567")
    assert(row.getAs[scala.collection.Seq[String]]("telefonos").isEmpty)
    // text= param: percent-decoded, first digit run
    assert(row.getAs[String]("whatsapp") == "3427778888")
    assert(row.getAs[String]("sitio_web") == "http://laespiga.example.com")
    assert(row.getAs[String]("email") == "pedidos@laespiga.com")
    assert(row.isNullAt(row.fieldIndex("facebook")))
    assert(row.isNullAt(row.fieldIndex("instagram")))
    assert(row.getAs[String]("horarios") == "Sab 8-13") // Cerrado stripped
    assert(row.getAs[scala.collection.Seq[String]]("rubros").toSeq == Seq("Panaderías"))
    assert(row.isNullAt(row.fieldIndex("descripcion")))
    assert(row.isNullAt(row.fieldIndex("latitud")))
    assert(row.isNullAt(row.fieldIndex("longitud")))
  }

  test("B3 sparse page: every extractor degrades to null, none throws") {
    val row = readHtml("detail_page_sparse.html")
      .select(RH.leadRecord(col("html"), lit(44L), lit("u44")).as("r"))
      .select("r.*").head()
    for (f <- Seq("nombre", "direccion", "whatsapp", "sitio_web", "email",
        "facebook", "instagram", "horarios", "descripcion"))
      assert(row.isNullAt(row.fieldIndex(f)), s"$f not null")
    assert(row.getAs[scala.collection.Seq[String]]("telefonos").isEmpty)
    assert(row.getAs[scala.collection.Seq[String]]("rubros").isEmpty)
  }

  test("B3 search results: cards → (id,url), missing id dropped, first-wins, total matches (H10/F14/J4)") {
    val page = readHtml("search_results.html")
    assert(page.select(RH.totalMatches(col("html"))).head().getLong(0) == 735L)

    val cards = page
      .select(posexplode(RH.resultCards(col("html"), base)).as(Seq("seq", "c")))
      .select(col("seq"), col("c.id_negocio"), col("c.url"))
    // 5 cards parsed; the id-less one yields null id and is filtered like the
    // reference's silent skip
    assert(cards.count() == 5)
    val harvested = graft.operators.Operators.dedupFirstWins(
      cards.filter(col("id_negocio").isNotNull), Seq("id_negocio"), Seq(col("seq")))
    val byId = harvested.orderBy("id_negocio").collect()
    assert(byId.map(_.getAs[Long]("id_negocio")).sameElements(Array(11L, 12L, 13L)))
    // relative href absolutized; already-absolute kept verbatim
    assert(byId(0).getAs[String]("url") == base + "index.php?r=search/detail&id=11")
    assert(byId(1).getAs[String]("url") == "https://www.guiacores.com.ar/index.php?r=search/detail&id=12")
  }

  test("DOM path: one parse per page across the full field surface (CSE)") {
    // the claim written at ReferenceHtml.raw: within one projection,
    // whole-stage codegen's subexpression elimination evaluates the shared
    // deterministic UDF once per row even though every field function
    // builds its own raw(html) column. Measure it: 15 fields over 3 rows must cost 3
    // parses, not 45. (A small multiple would mean CSE broke — extraction
    // would silently parse per FIELD; fail loudly instead.)
    // nonce-suffix each page: DomExtract's per-thread memo survives across
    // tests, so a worker thread that parsed these exact fixture strings in
    // an earlier test would return its memo without counting — unique
    // content guarantees every row costs exactly one fresh parse here
    val nonce = s"<!-- ${java.util.UUID.randomUUID()} -->"
    val df = readHtml("detail_page.html")
      .unionAll(readHtml("detail_page_fallbacks.html"))
      .unionAll(readHtml("detail_page_sparse.html"))
      .withColumn("html", concat(col("html"), lit(nonce)))
    val before = RH.parseCount
    df.select(RH.leadRecord(col("html"), lit(1L), lit("u")).as("rec"))
      .select(col("rec.*")).collect()
    val used = RH.parseCount - before
    assert(used == 3, s"expected 3 parses for 3 rows x 15 fields, got $used")
  }

  test("B3 malformed detail page: DOM path extracts the full record where " +
      "the regex path reads nothing") {
    // same logical page as detail_page.html through a hostile serializer:
    // reordered/unquoted/single-quoted attributes, mixed-case names, extra
    // and reordered class tokens, a stray close tag, &amp; in a query
    // string, a <br> between the clock icon and its span, unclosed divs
    val row = readHtml("detail_page_malformed.html")
      .select(RH.leadRecord(col("html"), lit(42L), lit("u42")).as("r"))
      .select("r.*").head()
    assert(row.getAs[String]("nombre") == "Ferretería  El Tornillo")
    assert(row.getAs[String]("direccion") == "Av. San Martín 1234 - (3000) Santa Fe")
    assert(row.getAs[scala.collection.Seq[String]]("telefonos").toSeq ==
      Seq("342 455-5000", "+54 9 342 612-3456"))
    assert(row.getAs[String]("whatsapp") == "5493424555000")
    assert(row.getAs[String]("sitio_web") == "https://www.eltornillo.com.ar")
    assert(row.getAs[String]("email") == "ventas@eltornillo.com.ar")
    assert(row.getAs[String]("facebook") == "https://www.facebook.com/eltornillosf")
    assert(row.getAs[String]("instagram") == "https://instagram.com/eltornillosf")
    assert(row.getAs[String]("horarios") == "Lun a Vie 8:00-12:30 y 16:00-20:00")
    assert(row.getAs[scala.collection.Seq[String]]("rubros").toSeq ==
      Seq("Ferreterías", "Pinturerías"))
    assert(row.getAs[String]("descripcion") == "Venta de herramientas  y materiales.")
    assert(row.getAs[Double]("latitud") == -31.6333)
    assert(row.getAs[Double]("longitud") == -60.70)
  }

  test("H4 empty itemprop href falls through to the fa-cloud fallback " +
      "identically on both paths") {
    // an `<a itemprop="url" href="">` must not shadow the icon fallback:
    // an empty href counts as absent, so the coalesce reaches the icon
    val df = Seq(
      """<html><body><a itemprop="url" href="">x</a>
        |<i class="fa fa-cloud"></i> <a class="search-result-link" href="https://fb.example">w</a>
        |</body></html>""".stripMargin('|')).toDF("html")
    assert(df.select(RH.sitioWeb(col("html"))).head().getString(0) ==
      "https://fb.example")
  }

  test("B3 malformed search results: DOM path reads all 5 cards, regex " +
      "only the canonical 3") {
    val page = readHtml("search_results_malformed.html")
    // F14 is a text-level law — markup shape cannot break it
    assert(page.select(RH.totalMatches(col("html"))).head().getLong(0) == 735L)
    val dom = page.select(posexplode(RH.resultCards(col("html"), base))
        .as(Seq("seq", "c")))
      .select(col("seq"), col("c.id_negocio"), col("c.url")).collect()
    assert(dom.length == 5)
    assert(dom.map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq ==
      Seq(11L, 12L, -1L, 11L, 13L))
    assert(dom(0).getString(2) == base + "index.php?r=search/detail&id=11")
    assert(dom(1).getString(2) ==
      "https://www.guiacores.com.ar/index.php?r=search/detail&id=12")
  }

  test("B3 incremental pages: per-batch new-key counts reach quiescence (ST2/ST3)") {
    val pages = Seq("search_results.html", "search_results_page2.html",
      "search_results_page3.html")
    var seen = Set.empty[Long]
    val newPerPage = pages.map { p =>
      val ids = readHtml(p)
        .select(explode(RH.resultCards(col("html"), base)).as("c"))
        .select(col("c.id_negocio")).filter(col("id_negocio").isNotNull)
        .as[Long].collect().toSet
      val fresh = (ids -- seen).size
      seen ++= ids
      fresh
    }
    // page1: {11,12,13}; page2 adds 14; page3 adds nothing → quiescent
    assert(newPerPage == Seq(3, 1, 0))

    // B4 resume: anti-join against the processed-ids sink state (J1)
    val processed = spark.read.option("header", "true")
      .schema("id_negocio LONG").csv(resource("/leads/processed_ids.csv"))
    val remaining = seen.toSeq.toDF("id_negocio")
      .join(processed, Seq("id_negocio"), "left_anti")
      .orderBy("id_negocio").as[Long].collect()
    assert(remaining.sameElements(Array(12L, 13L, 14L)))
  }

  test("B1→B2 golden: raw leads CSV through the clean path matches golden CSV") {
    val raw = spark.read.option("header", "true")
      .csv(resource("/leads/leads_raw.csv"))

    val cleaned = raw
      .withColumn("nombre", CF.cleanText(CF.naToNull(col("nombre"))))
      .withColumn("email", CF.validEmail(CF.naToNull(col("email"))))
      .withColumn("telefonos", CF.phonesToString(CF.cleanPhones(CF.naToNull(col("telefonos")))))
      .withColumn("rubros",
        array_join(transform(split(CF.naToNull(col("rubros")), ","), t => trim(t)), ", "))
      .withColumn("addr", CF.addressParts(CF.naToNull(col("direccion"))))
      .withColumn("direccion", col("addr.direccion"))
      .withColumn("localidad", col("addr.localidad"))
      .withColumn("sitio_web", CF.normalizeUrl(CF.naToNull(col("sitio_web"))))
      .withColumn("facebook", CF.cleanSocial(CF.naToNull(col("facebook"))))
      .withColumn("instagram", CF.cleanSocial(CF.naToNull(col("instagram"))))
    val deduped = graft.operators.Operators.dedupFirstWins(
      cleaned, Seq("id_negocio"), Seq(col("fecha_extraccion"), col("url")))

    val goldenCols = Seq("id_negocio", "nombre", "email", "telefonos", "rubros",
      "direccion", "localidad", "sitio_web", "facebook", "instagram")
    val got = deduped
      .select(goldenCols.map(c => CF.nullToNa(col(c)).as(c)): _*)
      .orderBy(col("id_negocio").cast("long"))
      .collect().map(_.toSeq)

    val golden = spark.read.option("header", "true")
      .csv(resource("/leads/leads_clean_golden.csv"))
      .select(goldenCols.map(col): _*)
      .orderBy(col("id_negocio").cast("long"))
      .collect().map(_.toSeq)

    assert(got.length == golden.length)
    got.zip(golden).foreach { case (g, e) =>
      assert(g == e, s"\n got: $g\nwant: $e")
    }
  }

  // ---- The reference's live selector probe (debug_selector.py:8-58),
  // replayed over the fixtures on BOTH extraction paths. The probe is the
  // selector inventory the reference actually debugged against real pages:
  // body-text contains 'coincidencias'; every element whose direct text
  // carries it (tag, class, text); the advanced-search opener
  // a[data-target="#formBusquedaAvazada"]; the modal by id; and the
  // modal's <input> inventory as (type, name, id). One record law, two
  // implementations — regex (the reference's BeautifulSoup-free fallback
  // style) and the tolerant DOM — asserted identical on every well-formed
  // fixture, closing the last behavioral seam between the parsers.

  private case class Probe(
      bodyHasCoincidencias: Boolean,
      coincidenciasEls: Seq[(String, String, String)], // (tag, class, text)
      hasAdvancedOpener: Boolean,
      modalTag: Option[String],
      modalInputs: Seq[(String, String, String)]) // (type, name, id)

  private val ModalId = "formBusquedaAvazada" // [sic] — the site's own typo

  private def regexProbe(html: String): Probe = {
    def attrOf(tagBody: String, name: String): String =
      ("""\b""" + name + "=\"([^\"]*)\"").r
        .findFirstMatchIn(tagBody).map(_.group(1)).getOrElse("")
    val bodyText = html.replaceAll("<[^>]*>", " ")
    val els = ("""<([a-zA-Z][a-zA-Z0-9]*)([^>]*)>([^<]*coincidencias[^<]*)""").r
      .findAllMatchIn(html)
      .map(m => (m.group(1).toLowerCase, attrOf(m.group(2), "class"),
        m.group(3).trim)).toSeq
    val opener = ("""<a\b[^>]*data-target="#""" + ModalId + "\"").r
      .findFirstIn(html).isDefined
    val modal = ("""<([a-zA-Z][a-zA-Z0-9]*)\b[^>]*\bid="""" + ModalId + "\"").r
      .findFirstMatchIn(html)
    val inputs = modal.toSeq.flatMap { m =>
      // the probe reads inputs INSIDE the modal: scope the scan to the
      // modal's form, the way the reference's regex fallbacks slice regions
      val region = html.substring(m.start)
      val end = region.indexOf("</form>")
      val scoped = if (end >= 0) region.substring(0, end) else region
      """<input\b([^>]*)>""".r.findAllMatchIn(scoped)
        .map(mm => (attrOf(mm.group(1), "type"), attrOf(mm.group(1), "name"),
          attrOf(mm.group(1), "id"))).toSeq
    }
    Probe(bodyText.contains("coincidencias"), els, opener,
      modal.map(_.group(1).toLowerCase), inputs)
  }

  private def domProbe(html: String): Probe = {
    import graft.functions.{TolerantDom, DomText}
    val doc = TolerantDom.parse(html)
    val all = doc.root +: doc.all
    val els = all.flatMap { e =>
      e.children.collect {
        case DomText(t) if t.contains("coincidencias") =>
          (e.tag, e.attr("class").getOrElse(""), t.trim)
      }
    }
    val modal = all.find(_.attr("id").contains(ModalId))
    val inputs = modal.toSeq.flatMap(_.descendants.filter(_.tag == "input")
      .map(i => (i.attr("type").getOrElse(""), i.attr("name").getOrElse(""),
        i.attr("id").getOrElse(""))))
    Probe(
      doc.root.text.contains("coincidencias"),
      els,
      all.exists(e => e.tag == "a" &&
        e.attr("data-target").contains("#" + ModalId)),
      modal.map(_.tag),
      inputs)
  }

  test("debug_selector probe: regex and DOM paths agree on every " +
      "well-formed fixture; the advanced-search page pins the inventory") {
    val pages = Seq("detail_page.html", "detail_page_fallbacks.html",
      "detail_page_sparse.html", "search_results.html",
      "search_results_page2.html", "search_results_page3.html",
      "search_advanced.html")
    pages.foreach { p =>
      val html = readHtml(p).head().getString(0)
      val (rx, dm) = (regexProbe(html), domProbe(html))
      assert(rx == dm, s"$p: probe records diverge\n regex: $rx\n   dom: $dm")
    }
    // the advanced-search fixture reproduces the probe's real findings:
    // banner text found, the opener anchor, the modal div, and its input
    // inventory (hidden route + text fields + the 'con mail' checkbox +
    // submit) in document order
    val adv = domProbe(readHtml("search_advanced.html").head().getString(0))
    assert(adv.bodyHasCoincidencias)
    assert(adv.hasAdvancedOpener)
    assert(adv.modalTag.contains("div"))
    assert(adv.coincidenciasEls == Seq(
      ("h5", "text-primary", "La búsqueda ha generado 735 coincidencias"),
      ("p", "footer-note", "Refiná la búsqueda si hay demasiadas coincidencias")))
    assert(adv.modalInputs == Seq(
      ("hidden", "r", ""),
      ("text", "b", "busqueda-b"),
      ("text", "L", "busqueda-localidad"),
      ("checkbox", "con_mail", "busqueda-con-mail"),
      ("submit", "", "busqueda-enviar")))
    // and F14 still reads the banner on this page (same totalMatches law)
    assert(readHtml("search_advanced.html")
      .select(RH.totalMatches(col("html"))).head().getLong(0) == 735L)
  }
}
