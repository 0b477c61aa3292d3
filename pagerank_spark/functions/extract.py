"""HTML -> text / link extraction over Common-Crawl-style pages.

The reference repo consumes a pre-extracted edge CSV (its README describes the
crawl: one edge per <a> tag, README.md:42-64) and ships no extractor; the
north rule requires one. This module defines the deterministic extraction
SPEC as pure Python (`extract_text_py`, `extract_hrefs_py`) — the reference
path — and exposes Arrow-vectorized pandas UDFs that must produce
byte-identical output per url (tests/test_extract.py enforces it).

Spec (deterministic, a function of the html bytes + page url only):
  * decode utf-8, errors='replace'
  * stdlib html.parser, convert_charrefs=True (entities resolved)
  * text: all character data outside <script>/<style>, chunks stripped,
    empties dropped, joined with a single space
  * links: every <a href=...> value, in document order, duplicates KEPT
    (the reference sums duplicate edges); scheme stripped; href starting
    with '/' resolved against the page's domain; fragment-only and empty
    hrefs dropped

Python crosses the executor boundary only as pandas UDFs over Arrow batches
(input_hint mandate) — the per-batch loop is a pandas Series.map over the
batch, never a Spark-row-at-a-time UDF.

The eight `*_df` extractors below (the seven `extract_*_df` and
`html_tag_stats_df`) read their pages through one keyless rebalance
exchange (`_parser_input`): the parser is CPU-bound, but a scan's splits
are sized for I/O, so a pages file with one parquet row group feeds the
whole parse to one task. AQE sizes the rebalanced partitions: with
`parallelismFirst` (the default) 40 MB of pages spread over every core,
tiny inputs coalesce to one partition, and at scale partitions approach the
64 MB advisory size. Only `url` and `html` cross the shuffle. The trade,
`extract_edges_df` + count on 4000 pages of ~10 KB at local[4] on a 4-core
box, median of 12 alternated runs without/with the rebalance: one parquet
row group 7.2 s -> 2.9 s; the same pages as four equal files (already one
split per core) 2.72 s -> 2.81 s, i.e. ~0.1 s (~25 us per page) for the
exchange. The rebalance is unconditional: the split count is not known
before planning, and reading it from `df.rdd` would run the input's own
shuffles ahead of the real job under AQE.

`streaming/ingest.py` `extract_edges_stream` calls the parser UDF on the
stream's own splits on purpose. AQE does not run on streaming queries, so
a rebalance there would not coalesce; it would shuffle every micro-batch
round-robin into `spark.sql.shuffle.partitions` partitions.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SKIP_TAGS = {"script", "style"}


class _TextAndLinks(HTMLParser):
    """Anchor-text spec (rides along without changing chunks/hrefs — the
    byte-identical text/edge outputs are a frozen contract): an <a> WITH an
    href opens a capture; stripped non-skipped data chunks append while it
    is open (markup nested inside the anchor contributes its text); a new
    <a> or an </a> closes it; an anchor left open at EOF finalizes on
    close(). Anchor text = chunks joined with a single space."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.hrefs: list[str] = []
        # nofollow[i] flags hrefs[i]: rel attr contains the token 'nofollow'
        # (multi-token rel values per the HTML spec, e.g. "ugc nofollow")
        self.nofollow: list[bool] = []
        self.anchors: list[tuple[str, str]] = []
        # content values of <meta name="robots" content=...> tags (any case;
        # script/style interiors are CDATA to HTMLParser, so no tag events
        # fire there and fake metas in scripts never land here)
        self.robots: list[str] = []
        # href values of <link rel="canonical"> tags, document order (any
        # case, token match within a multi-token rel; same CDATA shielding
        # as the robots metas)
        self.canonicals: list[str] = []
        # text of each <title> element, document order; title text ALSO
        # stays in chunks (the frozen text contract) — this is a parallel
        # capture, not a reroute
        self.titles: list[str] = []
        self._title_depth = 0
        self._title_chunks: list[str] = []
        self._skip_depth = 0
        self._open_href: str | None = None
        self._open_chunks: list[str] = []

    def _finalize_anchor(self):
        if self._open_href is not None:
            self.anchors.append((self._open_href, " ".join(self._open_chunks)))
        self._open_href = None
        self._open_chunks = []

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            self._finalize_anchor()
            # first non-None href wins (frozen contract — identical to the
            # original break-at-first-href loop); rel rides along without
            # touching the hrefs/chunks outputs
            href = rel = None
            for k, v in attrs:
                if k == "href" and v is not None and href is None:
                    href = v
                elif k == "rel" and v is not None and rel is None:
                    rel = v
            if href is not None:
                self.hrefs.append(href)
                self.nofollow.append(
                    rel is not None and "nofollow" in rel.lower().split()
                )
                self._open_href = href
        elif tag == "meta":
            name = content = None
            for k, v in attrs:
                if k == "name" and v is not None and name is None:
                    name = v
                elif k == "content" and v is not None and content is None:
                    content = v
            if name is not None and name.lower() == "robots" and content is not None:
                self.robots.append(content)
        elif tag == "link":
            href = rel = None
            for k, v in attrs:
                if k == "href" and v is not None and href is None:
                    href = v
                elif k == "rel" and v is not None and rel is None:
                    rel = v
            if (
                href is not None
                and rel is not None
                and "canonical" in rel.lower().split()
            ):
                self.canonicals.append(href)
        elif tag == "title":
            if self._title_depth == 0:
                self._title_chunks = []
            self._title_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag == "a":
            self._finalize_anchor()
        elif tag == "title" and self._title_depth > 0:
            self._title_depth -= 1
            if self._title_depth == 0:
                self.titles.append(" ".join(self._title_chunks))

    def handle_data(self, data):
        if self._skip_depth == 0:
            s = data.strip()
            if s:
                self.chunks.append(s)
                if self._open_href is not None:
                    self._open_chunks.append(s)
                if self._title_depth > 0:
                    self._title_chunks.append(s)

    def close(self):
        super().close()
        self._finalize_anchor()


def _parse(html: bytes | None) -> _TextAndLinks:
    p = _TextAndLinks()
    if html:
        p.feed(html.decode("utf-8", errors="replace"))
        p.close()
    return p


def extract_text_py(html: bytes | None) -> str:
    """Reference extractor: deterministic text from html bytes."""
    return " ".join(_parse(html).chunks)


def _normalize_href(href: str, page_url: str) -> str | None:
    h = href.strip()
    if not h or h.startswith("#"):
        return None
    for scheme in ("http://", "https://"):
        if h.startswith(scheme):
            h = h[len(scheme):]
            break
    else:
        if h.startswith("//"):
            h = h[2:]
        elif h.startswith("/"):
            h = page_url.split("/", 1)[0] + h
    return h or None


def extract_hrefs_py(html: bytes | None, page_url: str) -> list[str]:
    """Reference extractor: normalized link targets, document order, dups kept."""
    out = []
    for href in _parse(html).hrefs:
        n = _normalize_href(href, page_url)
        if n is not None:
            out.append(n)
    return out


def extract_links_py(html: bytes | None, page_url: str) -> list[dict]:
    """Reference extractor: (dst, nofollow) pairs — the href stream of
    ``extract_hrefs_py`` (same order, same duplicates, same normalization
    and drops) annotated with the anchor's rel=nofollow flag. Search
    engines exclude nofollow edges from authority flow (Google 2005 —
    the rel was INVENTED for PageRank), so the link-graph build wants the
    flag attached at extraction time, not re-parsed later."""
    p = _parse(html)
    out = []
    for href, nf in zip(p.hrefs, p.nofollow):
        n = _normalize_href(href, page_url)
        if n is not None:
            out.append({"dst": n, "nofollow": nf})
    return out


def extract_anchors_py(html: bytes | None, page_url: str) -> list[dict]:
    """Reference extractor: (dst, anchor-text) pairs, document order,
    duplicates kept, href normalization identical to ``extract_hrefs_py``
    (an href the edge extractor drops contributes no anchor either)."""
    out = []
    for href, text in _parse(html).anchors:
        n = _normalize_href(href, page_url)
        if n is not None:
            out.append({"dst": n, "anchor": text})
    return out


def extract_robots_py(html: bytes | None) -> tuple[bool, bool]:
    """Reference extractor: page-level (noindex, nofollow) from
    <meta name="robots"> directives — the crawler-politeness signals an
    index build must honor (REP meta tags; 'none' == 'noindex, nofollow').
    Tokens are comma- or whitespace-separated, case-insensitive; multiple
    robots metas OR together (the restrictive union, per Google's
    documented handling of conflicting directives)."""
    toks: set[str] = set()
    for content in _parse(html).robots:
        toks.update(t for t in content.lower().replace(",", " ").split() if t)
    return (
        "noindex" in toks or "none" in toks,
        "nofollow" in toks or "none" in toks,
    )


def extract_canonical_py(html: bytes | None, page_url: str) -> str | None:
    """Reference extractor: the page's declared canonical url from
    ``<link rel="canonical" href=...>``, or None. The FIRST canonical in
    document order wins (the same first-wins convention as the href
    contract; search engines distrust conflicting canonicals — a stable
    deterministic pick is what a pipeline needs). Token match within a
    multi-token rel, any case; href normalization identical to
    ``extract_hrefs_py`` (a fragment/empty canonical is no canonical);
    script interiors are CDATA — a canonical inside one never fires."""
    for href in _parse(html).canonicals:
        n = _normalize_href(href, page_url)
        if n is not None:
            return n
    return None


def extract_title_py(html: bytes | None) -> str | None:
    """Reference extractor: the FIRST <title> element's stripped text
    (chunks joined with one space — identical treatment to body text),
    or None when no title element exists. Title text remains part of the
    frozen extracted-text contract; this is a parallel capture. A title
    inside <script> is CDATA and never fires; an empty <title></title>
    is the empty string, not None."""
    titles = _parse(html).titles
    return titles[0] if titles else None


# -- Arrow-vectorized UDFs ----------------------------------------------------

@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_hrefs_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_hrefs_py(h, u) for h, u in zip(html, url)], dtype="object"
    )


_ANCHOR_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("dst", T.StringType()), T.StructField("anchor", T.StringType())]
    )
)

_LINK_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("dst", T.StringType()), T.StructField("nofollow", T.BooleanType())]
    )
)


@F.pandas_udf(_LINK_TYPE)
def extract_links_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_links_py(h, u) for h, u in zip(html, url)], dtype="object"
    )


_ROBOTS_TYPE = T.StructType(
    [
        T.StructField("noindex", T.BooleanType()),
        T.StructField("nofollow", T.BooleanType()),
    ]
)


@F.pandas_udf(_ROBOTS_TYPE)
def extract_robots_udf(html: pd.Series) -> pd.DataFrame:
    vals = [extract_robots_py(h) for h in html]
    return pd.DataFrame(vals, columns=["noindex", "nofollow"])


@F.pandas_udf(T.StringType())
def extract_canonical_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_canonical_py(h, u) for h, u in zip(html, url)], dtype="object"
    )


@F.pandas_udf(T.StringType())
def extract_title_udf(html: pd.Series) -> pd.Series:
    return pd.Series([extract_title_py(h) for h in html], dtype="object")


@F.pandas_udf(_ANCHOR_TYPE)
def extract_anchors_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_anchors_py(h, u) for h, u in zip(html, url)], dtype="object"
    )


def _parser_input(pages: DataFrame) -> DataFrame:
    """(url, html) behind a keyless rebalance exchange: the one input every
    Arrow extractor below reads (module docstring: why and what it costs).
    Only the two parsed columns cross the shuffle."""
    return pages.select("url", "html").hint("rebalance")


def extract_text_df(pages: DataFrame) -> DataFrame:
    """(url, text) — vectorized extraction; only url+html columns are scanned
    (Catalyst prunes the rest out of the parquet read)."""
    return _parser_input(pages).select(
        "url", extract_text_udf(F.col("html")).alias("text")
    )


def extract_edges_df(pages: DataFrame) -> DataFrame:
    """(src, dst) — one row per <a href>, duplicates kept.

    explode() runs JVM-side after the Arrow batch returns, so the Python hop
    carries one array per page, not one row per link.
    """
    return _parser_input(pages).select(
        F.col("url").alias("src"),
        F.explode(extract_hrefs_udf(F.col("html"), F.col("url"))).alias("dst"),
    )


def extract_links_df(pages: DataFrame) -> DataFrame:
    """(src, dst, nofollow) — one row per <a href>, duplicates kept, with
    the rel=nofollow flag. ``extract_edges_df`` minus the flag is the
    frozen edge contract; this variant feeds link-graph builds that drop
    (or down-weight) nofollow edges before ranking:

        links = extract_links_df(pages)
        graph = LinkGraph.from_edges(links.filter(~links.nofollow))

    Same Arrow shape as the other extractors: one struct array per page
    crosses the Python boundary, the explode runs JVM-side.
    """
    return _parser_input(pages).select(
        F.col("url").alias("src"),
        F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("l"),
    ).select("src", F.col("l.dst").alias("dst"), F.col("l.nofollow").alias("nofollow"))


def extract_robots_df(pages: DataFrame) -> DataFrame:
    """(url, noindex, nofollow) — page-level robots-meta directives. An
    index build drops noindex pages; a link-graph build treats a page-level
    nofollow as rel=nofollow on every outlink:

        robots = extract_robots_df(pages)
        indexable = pages.join(
            robots.filter("noindex").select("url"), "url", "left_anti")
    """
    return _parser_input(pages).select(
        "url", extract_robots_udf(F.col("html")).alias("r")
    ).select(
        "url",
        F.col("r.noindex").alias("noindex"),
        F.col("r.nofollow").alias("nofollow"),
    )


def extract_anchors_df(pages: DataFrame) -> DataFrame:
    """(src, dst, anchor) — one row per <a href> with its visible text.

    Same Arrow shape as ``extract_edges_df``: the Python hop carries one
    struct array per page, the explode runs JVM-side. Anchor text is THE
    classic off-page relevance signal (what the web says a page is about),
    aggregated per target by operators/textsearch.py anchor_term_index.
    """
    return _parser_input(pages).select(
        F.col("url").alias("src"),
        F.explode(extract_anchors_udf(F.col("html"), F.col("url"))).alias("a"),
    ).select("src", F.col("a.dst").alias("dst"), F.col("a.anchor").alias("anchor"))


def extract_canonicals_df(pages: DataFrame) -> DataFrame:
    """(url, canonical) — one row per page that declares a NON-self
    canonical. Self-canonicals (the overwhelmingly common case on real
    pages) are identity aliases — dropped here so the output is an alias
    table sized like the alias count, not the crawl, and feeds
    ``operators/redirects.py resolve_redirects`` / ``rewrite_edges``
    directly as (src=url, dst=canonical) rows:

        aliases = extract_canonicals_df(pages)
        resolved = resolve_redirects(
            aliases.select(F.col("url").alias("src"),
                           F.col("canonical").alias("dst")))
        clean_edges = rewrite_edges(extract_edges_df(pages), resolved)

    — canonical chains (A canonicalizes to B which canonicalizes to C)
    and canonical/redirect mixtures collapse in the same pointer-doubling
    pass. Same Arrow shape as the other extractors: one nullable string
    per page crosses the Python boundary, the null/self filter runs
    JVM-side. The singleton explode() is an optimizer barrier: filtering
    the UDF column directly lets CollapseProject inline the expression
    into the Filter and parse every page TWICE (two ArrowEvalPython
    nodes — plan-audited); conditions on a Generate's output cannot be
    pushed below it, so the parser runs once.
    """
    return (
        _parser_input(pages).select(
            "url",
            F.explode(
                F.array(extract_canonical_udf(F.col("html"), F.col("url")))
            ).alias("canonical"),
        )
        .where(F.col("canonical").isNotNull() & (F.col("canonical") != F.col("url")))
    )


def extract_titles_df(pages: DataFrame) -> DataFrame:
    """(url, title) — one nullable title string per page (NULL = no
    <title> element). Titles are THE second-ranked on-page relevance
    field (Lucene-era boosting: title >> body); feed them to
    :func:`pagerank_spark.operators.textsearch.postings` for a
    title-field index, or to quality filters (missing/templated titles
    are a boilerplate signal). One Arrow crossing, null filter stays
    with the consumer."""
    return _parser_input(pages).select(
        "url", extract_title_udf(F.col("html")).alias("title")
    )


# -- HTML structure features --------------------------------------------------

class _TagStats(HTMLParser):
    """Structural counters over a page: start-tag histogram for the
    boilerplate-signal tags plus visible-text volume. Independent of the
    frozen _TextAndLinks extractor (its chunk/href outputs are a
    byte-identity contract with the reference; counting rides its OWN
    parser so the frozen surface cannot drift). Same CDATA semantics:
    script/style interiors emit no tag or data events toward the counts.

    ``text_chars`` sums per-chunk STRIPPED lengths — the same chunks the
    text extractor keeps, so text_chars == len(extracted_text) -
    (n_chunks - 1) spaces; an exact, generatively-checkable definition.
    """

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.n_tags = 0
        self.counts = {"a": 0, "script": 0, "img": 0, "p": 0, "li": 0}
        self.text_chars = 0
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        self.n_tags += 1
        if tag in self.counts:
            self.counts[tag] += 1
        if tag in _SKIP_TAGS:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0:
            self.text_chars += len(data.strip())


def html_tag_stats_py(html: bytes | None) -> tuple:
    """(n_tags, n_anchors, n_scripts, n_images, n_paragraphs, n_list_items,
    text_chars, html_chars, text_ratio) for one page."""
    p = _TagStats()
    decoded = html.decode("utf-8", errors="replace") if html else ""
    if decoded:
        p.feed(decoded)
        p.close()
    html_chars = len(decoded)
    ratio = round(p.text_chars / html_chars, 6) if html_chars else None
    return (
        p.n_tags,
        p.counts["a"],
        p.counts["script"],
        p.counts["img"],
        p.counts["p"],
        p.counts["li"],
        p.text_chars,
        html_chars,
        ratio,
    )


_TAGSTAT_FIELDS = [
    "n_tags",
    "n_anchors",
    "n_scripts",
    "n_images",
    "n_paragraphs",
    "n_list_items",
    "text_chars",
    "html_chars",
]

_TAGSTAT_TYPE = T.StructType(
    [T.StructField(f, T.LongType()) for f in _TAGSTAT_FIELDS]
    + [T.StructField("text_ratio", T.DoubleType())]
)


@F.pandas_udf(_TAGSTAT_TYPE)
def html_tag_stats_udf(html: pd.Series) -> pd.DataFrame:
    vals = [html_tag_stats_py(h) for h in html]
    return pd.DataFrame(vals, columns=_TAGSTAT_FIELDS + ["text_ratio"])


def html_tag_stats_df(pages: DataFrame) -> DataFrame:
    """(url, n_tags, n_anchors, n_scripts, n_images, n_paragraphs,
    n_list_items, text_chars, html_chars, text_ratio) — the structural
    quality features template/boilerplate classifiers cut on (link density,
    script volume, text-to-markup ratio). ONE Arrow crossing per batch of
    pages, JVM-side flatten; the scan is pruned to (url, html)."""
    return _parser_input(pages).select(
        "url", html_tag_stats_udf(F.col("html")).alias("s")
    ).select("url", "s.*")
