"""Main-content extraction over HTML documents (north_rule surface:
"HTML boilerplate strip, PDF/layout parse, DOM heuristics").

The corpus tables carry plain text, so these operators work on a
deterministic HTML rendering of each document (same expression both
engines — the oracle builds the identical page in SQL), which makes
every step hash-checkable cross-engine while exercising the real
extraction logic:

* ``html_wrap``      — deterministic boilerplate page: head/title,
  nav with links, the body text split over paragraph blocks, an ad
  div, scripts/styles, footer.
* ``html_strip``     — boilerplate strip: script/style removal, tag
  strip, entity decode, whitespace collapse + title extraction and
  link statistics.  Pure codegen (regexp_replace chains), no UDF.
* ``html_main_block``— DOM-ish heuristic: split the page into block
  elements, score each by (text length x (1 - link density)) the way
  readability/jusText-style extractors do, keep the argmax block.
  One explode + one window — scales as a flat per-(doc, block) table.

Every regex is written in the common Java-regex/RE2 subset
(non-greedy ``.*?``, ``(?s)``, character classes) so Spark and DuckDB
agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# boilerplate tail; doc text is folded into <p>/<main> blocks before it
_PAGE_SUFFIX = (
    "<footer><a href=/tos>Terms</a> &amp; <a href=/privacy>"
    "Privacy</a> &copy; corpus</footer></body></html>")


def html_wrap(documents: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, html): the deterministic test page.
    The first half of the words lands in an early <p>, the rest in a
    <main> block, so the main-block heuristic has a real decision to
    make (nav/ad/footer blocks are link-dense and short)."""
    words = F.split(F.col("text"), " ")
    half = (F.size(words) / 2).cast("int")
    first = F.concat_ws(" ", F.slice(words, 1, F.greatest(half, F.lit(1))))
    rest = F.concat_ws(
        " ", F.slice(words, half + 1,
                     F.greatest(F.size(words) - half, F.lit(1))))
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" - Corpus</title><style>body {margin:0}</style>"
              "<script>var t = 1;</script></head><body>"
              "<nav><a href=/home>Home</a> <a href=/about>About</a> "
              "<a href=/login>Login</a></nav>"
              "<div class=ad><a href=/buy>BUY NOW</a> limited offer "
              "<a href=/buy2>click</a> <a href=/buy3>here</a></div>"
              "<p>"),
        first,
        F.lit("</p><main>"),
        rest,
        F.lit(" tail &amp; end</main>"),
        F.lit(_PAGE_SUFFIX))
    # fan_out (r9): every consumer runs several multi-pass regexes
    # over the ~1KB page per row BEFORE its first exchange, so scan
    # parallelism (not the shuffle) is the wall on few-split local
    # inputs; no-op at real scale (see functions.fan_out)
    from ocr_pytorch_spark.functions import fan_out

    return fan_out(documents).select("doc_id", html.alias("html"))


def _strip_expr(html):
    """script/style blocks -> '', tags -> ' ', entities decoded,
    whitespace collapsed.  Same regexes verbatim in the SQL oracle."""
    no_script = F.regexp_replace(html, r"(?s)<script.*?</script>", " ")
    no_style = F.regexp_replace(no_script, r"(?s)<style.*?</style>",
                                " ")
    no_tags = F.regexp_replace(no_style, r"<[^>]*>", " ")
    ent = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(no_tags, "&amp;", "&"), "&copy;", "(c)"),
        "&nbsp;", " ")
    return F.trim(F.regexp_replace(ent, " +", " "))


def html_strip(documents: DataFrame) -> DataFrame:
    """Boilerplate strip + page statistics.
    Output: doc_id, title, clean_text, text_len, n_links,
    link_density (quantized)."""
    from ocr_pytorch_spark.functions import quant4

    page = html_wrap(documents)
    html = F.col("html")
    title = F.regexp_extract(html, r"<title>([^<]*)</title>", 1)
    clean = _strip_expr(html)
    n_links = (F.size(F.split(html, "<a ")) - 1).cast("long")
    return page.select(
        "doc_id", title.alias("title"), clean.alias("clean_text"),
        F.length(clean).cast("long").alias("text_len"),
        n_links.alias("n_links"),
        quant4(n_links / F.greatest(F.length(clean), F.lit(1)))
        .alias("link_density"))


def html_main_block(documents: DataFrame) -> DataFrame:
    """DOM-heuristic main-content pick: explode the page into block
    elements (split on block-level OPENING tags), score each block by
    stripped-text length x (1 - link_density), keep the best block
    per document.  Ties break toward the earliest block.
    Output: doc_id, block_idx, block_text, score (quantized)."""
    from ocr_pytorch_spark.functions import quant4

    page = html_wrap(documents)
    blocks = F.split(
        F.col("html"),
        r"<(?:p|main|nav|div[^>]*|footer|header)>")
    exploded = (page.select(
        "doc_id", F.posexplode(blocks).alias("block_idx", "raw")))
    text = _strip_expr(F.col("raw"))
    n_links = (F.size(F.split(F.col("raw"), "<a ")) - 1).cast("double")
    tlen = F.length(text).cast("double")
    score = tlen * (1.0 - n_links / F.greatest(
        n_links + F.lit(1.0), F.lit(1.0)))
    scored = exploded.select(
        "doc_id", "block_idx", text.alias("block_text"),
        quant4(score).alias("score"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("block_idx"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", "block_idx", "block_text", "score"))


def layout_reading_order(documents: DataFrame) -> DataFrame:
    """'PDF/layout parse' analogue: deterministic word boxes (page,
    column, x, y derived from word index — the shape a real PDF
    tokenizer emits), then two-column reading order: page asc, column
    asc (x < page midpoint first), y asc, x asc — the multi-column
    ordering rule layout parsers apply after box extraction.
    Output: doc_id, reading_text (words rejoined in reading order)."""
    words = (documents.select(
        "doc_id", F.posexplode(F.split("text", " "))
        .alias("i", "word")))
    # synthetic layout: 40 words per page, serpentine two columns
    page = (F.col("i") / 40).cast("int")
    slot = F.col("i") % 40
    colidx = (slot / 20).cast("int")          # 0 = left, 1 = right
    y = slot % 20
    x = colidx * 300 + (F.col("i") % 7) * 10  # jitter inside column
    boxed = words.select(
        "doc_id", "word", page.alias("page"), colidx.alias("col"),
        y.alias("y"), x.alias("x"))
    ordered = (boxed
               .withColumn(
                   "rn",
                   F.row_number().over(
                       Window.partitionBy("doc_id")
                       .orderBy("page", "col", "y", "x")))
               .groupBy("doc_id")
               .agg(F.concat_ws(
                   " ", F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("rn", "word"))),
                       lambda s: s["word"])).alias("reading_text")))
    return ordered


def boilerplate_classify(documents: DataFrame) -> DataFrame:
    """Boilerpipe-style densitometric block classification
    (Kohlschuetter, Fankhauser, Nejdl: "Boilerplate Detection using
    Shallow Text Features", WSDM 2010 — the NumWordsRulesClassifier
    decision cascade boilerpipe's DefaultExtractor ships): every block
    gets (word count, anchor-word link density), and the
    content/boilerplate decision uses the PREVIOUS and NEXT blocks'
    features via lag/lead windows — the context sensitivity that
    separates this from per-block scoring (html_main_block).

    Rules (verbatim from the paper's trained C4.8 stumps):
      link_density > 0.333          -> boilerplate
      else if prev link_density <= 0.555:
           content iff words > 16 or next words > 15 or prev words > 4
      else:  content iff words > 40 or next words > 17

    Pure codegen (regex + windows): one explode, one sort-based window
    per doc partition; a 10^12-doc corpus classifies as a flat
    (doc, block) table with no UDF and no shuffle beyond the per-doc
    window.  Output: doc_id, block_idx, n_words, link_density,
    is_content."""
    from ocr_pytorch_spark.functions import quant4

    page = html_wrap(documents)
    blocks = F.split(
        F.col("html"),
        r"<(?:p|main|nav|div[^>]*|footer|header)>")
    exploded = (page.select(
        "doc_id", F.posexplode(blocks).alias("block_idx", "raw")))
    text = F.trim(_strip_expr(F.col("raw")))
    n_words = F.when(F.length(text) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(text, " "))).cast("long")
    anchor = F.trim(F.concat_ws(" ", F.expr(
        r"regexp_extract_all(raw, '(?s)<a [^>]*>(.*?)</a>', 1)")))
    n_anchor = F.when(F.length(anchor) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(anchor, " "))).cast("long")
    feat = exploded.select(
        "doc_id", "block_idx", n_words.alias("n_words"),
        (n_anchor.cast("double")
         / F.greatest(n_words.cast("double"), F.lit(1.0)))
        .alias("ld"))
    w = Window.partitionBy("doc_id").orderBy("block_idx")
    ctx = (feat
           .withColumn("prev_words",
                       F.coalesce(F.lag("n_words").over(w), F.lit(0)))
           .withColumn("next_words",
                       F.coalesce(F.lead("n_words").over(w), F.lit(0)))
           .withColumn("prev_ld",
                       F.coalesce(F.lag("ld").over(w), F.lit(0.0))))
    is_content = F.when(F.col("ld") > 0.333, F.lit(False)).otherwise(
        F.when(F.col("prev_ld") <= 0.555,
               (F.col("n_words") > 16) | (F.col("next_words") > 15)
               | (F.col("prev_words") > 4))
        .otherwise((F.col("n_words") > 40)
                   | (F.col("next_words") > 17)))
    return ctx.select("doc_id", "block_idx", "n_words",
                      quant4(F.col("ld")).alias("link_density"),
                      is_content.alias("is_content"))


# ---------------------------------------------------------------------------
# Outlink / anchor-text harvest
# ---------------------------------------------------------------------------

# one regex, two capture groups: (dst_host, anchor text).  Written in
# the shared Java-regex/RE2 subset (negated classes only, no
# backtracking ambiguity) so Spark and DuckDB extract byte-identical
# match lists from the same page.
_LINK_RE = r"<a href=https://([^/>]+)/[^>]*>([^<]*)</a>"


def html_wrap_linked(documents: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, html): a page whose outlinks are
    DATA-DEPENDENT (unlike ``html_wrap``'s fixed chrome links): three
    in-text citation links whose target host derives from the
    document's own words (``https://<word>.example/p<doc_id>``), plus
    fixed hub nav/footer links.  The word picks are 1-based positions
    2/5/8 clamped to the word count, so short documents degrade
    deterministically and the oracle can rebuild the identical page
    in SQL."""
    words = F.split(F.col("text"), " ")

    def word_at(p: int):
        return F.element_at(
            words, F.least(F.lit(p), F.greatest(F.size(words),
                                                F.lit(1))))

    def link(p: int):
        w = word_at(p)
        return F.concat(F.lit("<a href=https://"), w,
                        F.lit(".example/p"),
                        F.col("doc_id").cast("string"), F.lit(">"),
                        w, F.lit(" page</a>"))

    html = F.concat(
        F.lit("<html><body><nav><a href=https://hub.example/nav>"
              "Hub home</a></nav><p>"),
        link(2), F.lit(" cite "), link(5), F.lit(" see "), link(8),
        F.lit("</p><footer><a href=https://hub.example/tos>"
              "Terms of use</a></footer></body></html>"))
    return documents.select("doc_id", html.alias("html"))


def html_outlinks(documents: DataFrame) -> DataFrame:
    """Anchor-text corpus build: harvest every
    ``<a href=https://host/...>anchor</a>`` from the rendered pages
    and aggregate per destination host — the pass a web pipeline runs
    alongside main-content extraction to feed link analysis and
    anchor-text retrieval corpora.
    Output: (dst_host, n_links, n_docs, anchor_chars), exact integers.

    Scale shape: link extraction is two ``regexp_extract_all`` over
    the page plus one ``arrays_zip``/``explode`` — pure codegen fused
    into the scan, no UDF, no shuffle until the single per-host
    rollup.  ``count(distinct doc_id)`` expands to a two-phase
    (host, doc_id) partial aggregation, so map-side combine bounds
    what crosses the exchange by the distinct edge set, not the link
    multiset.  Destination hosts are power-law at crawl scale — the
    same skew `skew_profile` diagnoses and AQE skew-join handles;
    the per-host row is a few counters, so even a 10^8-inlink host
    reduces to bounded partial aggregates per map task.
    """
    page = html_wrap_linked(documents)
    hosts = F.regexp_extract_all(F.col("html"), F.lit(_LINK_RE), 1)
    anchors = F.regexp_extract_all(F.col("html"), F.lit(_LINK_RE), 2)
    edges = (page
             .select("doc_id",
                     F.explode(F.arrays_zip(
                         hosts.alias("dst_host"),
                         anchors.alias("anchor"))).alias("e"))
             .select("doc_id", F.col("e.dst_host").alias("dst_host"),
                     F.col("e.anchor").alias("anchor")))
    return (edges.groupBy("dst_host")
            .agg(F.count("*").alias("n_links"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.sum(F.length("anchor")).cast("long")
                 .alias("anchor_chars")))
