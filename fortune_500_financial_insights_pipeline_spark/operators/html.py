"""HTML → text extraction: the FIRST stage of every web-crawl training
corpus (WET extraction / trafilatura / jusText class), missing from the
curation family until round 6.

Real parsing, not regex soup: Python's stdlib ``html.parser`` walks the
markup inside Arrow-batched mapInPandas workers — script/style subtrees
are skipped entirely, character references decode (``&amp;`` → ``&``),
and the document segments into BLOCKS at block-level tags. Each block
carries the signals the published boilerplate heuristics use
(jusText/Arc90): text length, link count, and link-character density.
``html_main_text`` then applies the classic keep rule — enough
characters and low link density — which drops navigation ("Home X",
all link chars), ad asides, footers, and titles while keeping paragraph
prose, and reassembles the main text in document order.

Determinism: whitespace collapses to single spaces per block and blocks
join with a newline, so the extracted text is a pure function of the
markup — the oracle key replays the page GENERATOR (not a SQL HTML
parser) and a hash match proves the real parser recovered exactly the
planted main content and dropped exactly the planted boilerplate.

Scale shape: map-only (binary/string in, struct out), zero shuffle —
the same profile as the codec family, measured in SCALE.md.

Reference scope: /root/reference ingests CSV/JSON APIs only — this is
LLM-training-data extension surface.
"""

from __future__ import annotations

from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_TAGS = {
    "p", "div", "nav", "aside", "footer", "header", "title", "article",
    "section", "li", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote",
    "td", "pre",
}
SKIP_TAGS = {"script", "style"}

MAIN_SCHEMA = (
    "doc_id long, n_blocks int, n_kept int, main_chars int, main_md5 string"
)


class _BlockParser(HTMLParser):
    """Segment a page into text blocks with link statistics."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._cur: dict | None = None
        self._skip = 0
        self._link = 0

    def _close(self) -> None:
        if self._cur is not None:
            raw = "".join(self._cur.pop("parts"))
            self._cur["text"] = " ".join(raw.split())
            if self._cur["text"]:
                self.blocks.append(self._cur)
        self._cur = None

    def _open(self, tag: str) -> None:
        self._close()
        self._cur = {"tag": tag, "parts": [], "n_links": 0, "link_chars": 0}

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip += 1
            return
        if tag in BLOCK_TAGS:
            self._open(tag)
        elif tag == "a" and not self._skip:
            if self._cur is None:
                self._open("_implicit")
            self._cur["n_links"] += 1
            self._link += 1

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag in BLOCK_TAGS:
            self._close()
        elif tag == "a":
            self._link = max(0, self._link - 1)

    def handle_data(self, data):
        if self._skip or not data:
            return
        if self._cur is None:
            if not data.strip():
                return
            self._open("_implicit")
        self._cur["parts"].append(data)
        if self._link:
            self._cur["link_chars"] += len(data)

    def finish(self) -> list[dict]:
        self._close()
        return self.blocks


def parse_blocks(html: str) -> list[dict]:
    """Driver-free core: blocks of one page (unit-testable without Spark)."""
    p = _BlockParser()
    p.feed(html)
    p.close()
    return p.finish()


def html_main_text(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_chars: int = 30,
    max_link_density: float = 0.33,
) -> DataFrame:
    """Main-content extraction readout per page: total blocks, kept
    blocks (>= min_chars and link density < max_link_density), and the
    md5 of the newline-joined main text — the jusText/Arc90 keep rule
    over the real parse."""
    import hashlib

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_blocks": [], "n_kept": [],
                   "main_chars": [], "main_md5": []}
            for doc_id, page in zip(pdf["doc_id"], pdf["__html"]):
                blocks = parse_blocks(page)
                kept = [
                    b["text"] for b in blocks
                    if len(b["text"]) >= min_chars
                    and b["link_chars"] < max_link_density * max(1, len(b["text"]))
                ]
                main = "\n".join(kept)
                out["doc_id"].append(doc_id)
                out["n_blocks"].append(len(blocks))
                out["n_kept"].append(len(kept))
                out["main_chars"].append(len(main))
                out["main_md5"].append(hashlib.md5(main.encode()).hexdigest())
            yield pd.DataFrame(out)

    return df.select(
        df[id_col].alias("doc_id"), df[html_col].alias("__html")
    ).mapInPandas(extract, schema=MAIN_SCHEMA)


CONTENT_SCHEMA = "doc_id long, url string, main string"


def html_main_content(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    min_chars: int = 30,
    max_link_density: float = 0.33,
) -> DataFrame:
    """Like :func:`html_main_text` but returns the extracted main TEXT
    itself (newline-joined kept blocks) with a passthrough url column —
    the form downstream pipeline stages (fingerprint dedup, quality
    gate, chunking) consume."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "url": [], "main": []}
            for doc_id, url, page in zip(
                pdf["doc_id"], pdf["__url"], pdf["__html"]
            ):
                blocks = parse_blocks(page)
                kept = [
                    b["text"] for b in blocks
                    if len(b["text"]) >= min_chars
                    and b["link_chars"] < max_link_density * max(1, len(b["text"]))
                ]
                out["doc_id"].append(doc_id)
                out["url"].append(url)
                out["main"].append("\n".join(kept))
            yield pd.DataFrame(out)

    return df.select(
        df[id_col].alias("doc_id"),
        df[url_col].alias("__url"),
        df[html_col].alias("__html"),
    ).mapInPandas(extract, schema=CONTENT_SCHEMA)


class _LinkParser(HTMLParser):
    """Collect <a href> values in document order, skipping script/style
    subtrees (attribute values arrive entity-decoded from HTMLParser)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip += 1
            return
        if tag == "a" and not self._skip:
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append(v)


    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)


def extract_links(html: str) -> "list[str]":
    """Driver-free core: hrefs of one page in document order."""
    p = _LinkParser()
    p.feed(html)
    p.close()
    return p.hrefs


LINKS_SCHEMA = "doc_id long, link_idx int, href string, resolved string"


def html_links(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    base_col: str = "base_url",
) -> DataFrame:
    """One row per anchor: (doc, link_idx, href, resolved) — the crawl
    loop's FRONTIER-EXPANSION stage: hrefs come out of the real parser
    and resolve against the page's base URL with full RFC 3986 reference
    resolution (stdlib urljoin — relative paths, root-relative, dot
    segments, scheme-relative). Map-only, zero shuffle; feed the output
    through urltools.canonicalize_url + robots_gate + a seen-set
    left_anti join to close the loop."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from urllib.parse import urljoin

        for pdf in batches:
            out = {"doc_id": [], "link_idx": [], "href": [], "resolved": []}
            for doc_id, base, page in zip(
                pdf["doc_id"], pdf["__base"], pdf["__html"]
            ):
                for i, href in enumerate(extract_links(page)):
                    out["doc_id"].append(doc_id)
                    out["link_idx"].append(i)
                    out["href"].append(href)
                    out["resolved"].append(urljoin(str(base), href))
            yield pd.DataFrame(out)

    return df.select(
        df[id_col].alias("doc_id"),
        df[base_col].alias("__base"),
        df[html_col].alias("__html"),
    ).mapInPandas(walk, schema=LINKS_SCHEMA)


class _AnchorTextParser(HTMLParser):
    """Collect (href, anchor text) pairs in document order — the text
    BETWEEN <a href>…</a>, whitespace-normalized, script/style subtrees
    skipped. An unterminated anchor closes at the next <a> or EOF (the
    tag-soup tolerance real crawl HTML needs)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: "list[tuple[str, str]]" = []
        self._skip = 0
        self._href: "str | None" = None
        self._buf: "list[str]" = []

    def _flush(self) -> None:
        if self._href is not None:
            self.pairs.append(
                (self._href, " ".join("".join(self._buf).split()))
            )
        self._href = None
        self._buf = []

    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip += 1
            return
        if tag == "a" and not self._skip:
            self._flush()
            for k, v in attrs:
                if k == "href" and v:
                    self._href = v

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag == "a" and not self._skip:
            self._flush()

    def handle_data(self, data):
        if self._href is not None and not self._skip:
            self._buf.append(data)

    def close(self):
        super().close()
        self._flush()


def extract_anchor_texts(html: str) -> "list[tuple[str, str]]":
    """Driver-free core: (href, anchor text) of one page in order."""
    p = _AnchorTextParser()
    p.feed(html)
    p.close()
    return p.pairs


ANCHORS_SCHEMA = (
    "doc_id long, link_idx int, href string, resolved string, "
    "anchor_text string"
)


def html_anchor_texts(
    df: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    base_col: str = "base_url",
) -> DataFrame:
    """:func:`html_links` carrying the ANCHOR TEXT — the incoming-link
    description signal web corpora aggregate per target (search
    indexing, page-quality priors, cheap labels). Map-only, zero
    shuffle, same RFC 3986 resolution."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from urllib.parse import urljoin

        for pdf in batches:
            out = {
                "doc_id": [], "link_idx": [], "href": [],
                "resolved": [], "anchor_text": [],
            }
            for doc_id, base, page in zip(
                pdf["doc_id"], pdf["__base"], pdf["__html"]
            ):
                for i, (href, text) in enumerate(extract_anchor_texts(page)):
                    out["doc_id"].append(doc_id)
                    out["link_idx"].append(i)
                    out["href"].append(href)
                    out["resolved"].append(urljoin(str(base), href))
                    out["anchor_text"].append(text)
            yield pd.DataFrame(out)

    return df.select(
        df[id_col].alias("doc_id"),
        df[base_col].alias("__base"),
        df[html_col].alias("__html"),
    ).mapInPandas(walk, schema=ANCHORS_SCHEMA)


def anchor_text_index(
    links: DataFrame,
    target_col: str = "resolved",
    text_col: str = "anchor_text",
    source_col: str = "base_url",
) -> DataFrame:
    """Per-TARGET anchor-text aggregation — the classic cross-page
    signal (a page is well described by what OTHER pages' links call
    it): for each target URL, the incoming-anchor count, the distinct
    source-host count, and the dominant anchor text (highest count,
    ties to the lexicographically smallest — deterministic, oracle-
    replayable via max_by on a (count, reversed-text) key).

    Two hash aggregates keyed on the target (plus text for the inner
    one) — both map-side combinable, no window over the full link
    frame; at web scale the target key is the natural shuffle key and
    mega-targets (nav links to a homepage) stay one group each."""
    host = F.lower(
        F.regexp_extract(
            F.col(source_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
        )
    )
    per_text = (
        links.select(
            F.col(target_col).alias("target"),
            F.col(text_col).alias("__text"),
            host.alias("__host"),
        )
        .groupBy("target", "__text")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.collect_set("__host").alias("__hosts"),
        )
    )
    # Dominant text: sort the (per-target, per-text) structs by
    # (-count, text) — struct sort orders by leading field first — and
    # take the head: highest count, ties to the lexicographically
    # smallest text. The collected array is text-VARIANT-sized (already
    # aggregated), not anchor-sized.
    top = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("__n")).alias("negn"), F.col("__text").alias("t")
            )
        )
    )
    return (
        per_text.groupBy("target")
        .agg(
            F.sum("__n").cast("long").alias("n_anchors"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("__hosts")))
            ).alias("n_source_hosts"),
            top.alias("__top"),
        )
        .select(
            "target",
            "n_anchors",
            "n_source_hosts",
            F.col("__top")[0]["t"].alias("top_text"),
            (-F.col("__top")[0]["negn"]).cast("long").alias("top_text_count"),
        )
    )
