"""K1 — HTML -> text extraction (SURVEY.md §2.B K1).

Contract (BASELINE.json:15): extracted ``text`` must be
**byte-identical per url** versus the reference. The reference mount
is empty (SURVEY.md §0), so the operational definition of "reference
text" is this frozen extraction spec, duplicated verbatim in
``tests/oracle/extract_frozen.py`` and pinned by hash in
``tests/test_extract.py``. The spec:

  * parse with stdlib ``html.parser`` (charrefs decoded),
  * drop all content inside <script>/<style>/<noscript>/<template>,
  * comments ignored,
  * block-level tags flush the current inline buffer as one block,
  * inline whitespace runs collapse to a single space, blocks are
    stripped, empty blocks dropped,
  * output = blocks joined by "\\n".

Pure Python stdlib only (no lxml/bs4 in env), so the byte-identity is
stable across pandas/pyarrow versions.

The shipped crossing (``kg.pipeline``) calls ``extract_text_auto`` per
page inside its Arrow batch. ``html_to_text`` is the same kernel as a
scalar Arrow UDF, run only by the staged oracle.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})
BLOCK_TAGS = frozenset(
    {
        "html", "head", "body", "title", "p", "div", "br", "hr",
        "ul", "ol", "li", "table", "tr", "td", "th",
        "h1", "h2", "h3", "h4", "h5", "h6",
        "section", "article", "header", "footer", "nav", "aside",
        "blockquote", "pre", "figure", "figcaption", "main",
    }
)


class _TextExtractor(HTMLParser):
    """Streaming block-structured text extractor (frozen spec)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self._buf: list[str] = []
        self._blocks: list[str] = []

    def _flush(self) -> None:
        if self._buf:
            block = " ".join("".join(self._buf).split())
            self._buf = []
            if block:
                self._blocks.append(block)

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip += 1
        elif tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            if self._skip > 0:
                self._skip -= 1
        elif tag in BLOCK_TAGS:
            self._flush()

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip == 0:
            self._buf.append(data)

    def result(self) -> str:
        self._flush()
        return "\n".join(self._blocks)


def extract_text(html: bytes | str) -> str:
    """Frozen pure function: html bytes -> extracted text (K1 kernel)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    parser = _TextExtractor()
    parser.feed(html)
    parser.close()
    return parser.result()


# ------------------------------------------------- guarded fast path
#
# extract_text above IS the frozen spec (stdlib html.parser). The fast
# path below is a single-regex scanner for the strictly-simple HTML
# subset; anything outside the subset (malformed tags, declarations,
# CDATA sections, case-variant or spaced script/style closers, '>'
# inside quoted attributes, stray '<' in text, attributed end tags)
# returns None and the caller falls back to the spec parser — so the
# fast path can only ever produce the byte-identical answer or defer.
# Byte-identity vs extract_text is gated in tests/test_extract.py on
# fixture pages AND an adversarial corpus covering every bail
# condition. Measured ~1.6x per page over html.parser; the bigger win
# is that it powers the fused pipeline UDF (kg/pipeline.py).

_TOK = re.compile(r"<!--.*?-->|<[^<>]*>", re.S)
_TAGNAME = re.compile(r"</?([a-zA-Z][a-zA-Z0-9]*)")
_CDATA_FALSE_END = re.compile(r"</[ \t\n\r\f]*(script|style)", re.I)

# token -> action codes for the memoized dispatch below. A tag token's
# handling is a PURE function of the token string (the !/? and
# quote/name/tail checks, the SKIP/BLOCK membership, the startend
# suffix), so it is classified once and cached; the only non-cacheable
# piece — the script/style CDATA fast-forward, which scans the
# surrounding html — stays in the loop. Measured ~2.2x on fixture
# pages (~26 tags/page, ~10 distinct): per-tag work collapses from
# regex match + quote counting + membership ladder to one dict hit.
_A_DEFER, _A_NOOP, _A_FLUSH, _A_SKIP_INC, _A_SKIP_DEC, _A_SCRIPT, _A_STYLE = (
    range(7)
)
_TOKEN_ACTIONS: dict[str, int] = {}
_TOKEN_ACTIONS_MAX = 1 << 16  # bound worker memory on open token vocab


def _classify_token(t: str) -> int:
    """One tag token -> action code (pure function of the string;
    mirrors the frozen-spec branch ladder — see extract_text_fast)."""
    if t[1] == "?":
        return _A_DEFER  # processing instruction
    body = t[1:-1]
    if not body:
        return _A_DEFER
    if body.count('"') % 2 or body.count("'") % 2:
        return _A_DEFER  # naive '>' split may have cut inside a quote
    mt = _TAGNAME.match(t)
    if mt is None:
        return _A_DEFER
    tag = mt.group(1)
    tail = body[mt.end() - 1 :]
    if tail and tail[0] not in " \t\n\r\f/":
        return _A_DEFER  # name chars beyond [a-zA-Z0-9]
    tag_l = tag.lower()
    if t[1] == "/":
        if tail.strip():
            return _A_DEFER  # attributes on an end tag
        if tag_l in SKIP_TAGS:
            return _A_SKIP_DEC
        return _A_FLUSH if tag_l in BLOCK_TAGS else _A_NOOP
    if tag_l in SKIP_TAGS and "/" in tail:
        # html.parser's start-vs-startend call for a '/' among the
        # attributes is attr-parser-dependent (<script /> is a
        # startendtag, <script / > is a START tag that enters
        # CDATA) and the difference IS observable for skip tags —
        # defer to the spec parser rather than re-implement
        # attrfind_tolerant.
        return _A_DEFER
    if body.rstrip().endswith("/"):  # startendtag (<br/>)
        # for non-skip tags the start/startend distinction is NOT
        # observable (both flush iff block; end tags unaffected),
        # so the suffix heuristic is safe here
        return _A_FLUSH if tag_l in BLOCK_TAGS else _A_NOOP
    if tag_l in ("script", "style"):
        if tag != tag_l:
            return _A_DEFER  # only lowercase opens on the fast path
        return _A_SCRIPT if tag_l == "script" else _A_STYLE
    if tag_l in SKIP_TAGS:  # noscript / template: tags still parse
        return _A_SKIP_INC
    return _A_FLUSH if tag_l in BLOCK_TAGS else _A_NOOP


def extract_text_fast(html: bytes | str) -> str | None:
    """Fast-subset extraction: spec-identical output or None (=fall
    back to the frozen html.parser spec, never a different answer)."""
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="replace")
    pos, skip = 0, 0
    buf: list[str] = []
    blocks: list[str] = []
    search = _TOK.search
    actions = _TOKEN_ACTIONS
    while True:
        m = search(html, pos)
        if m is None:
            if pos < len(html):
                seg = html[pos:]
                if "<" in seg:
                    # unparsed tag-open in data. Checked even inside a
                    # skip region: a stray '<' there can be a REAL tag
                    # whose quoted attrs hid it from the naive
                    # tokenizer (e.g. <style q="</p>"> inside
                    # <noscript>), which would desynchronize the skip
                    # counter from the spec parser — r7 fuzz find.
                    return None
                if not skip:
                    buf.append(unescape(seg) if "&" in seg else seg)
            break
        s, e = m.span()
        if s > pos:
            seg = html[pos:s]
            if "<" in seg:
                return None  # see the skip-region note above
            if not skip:
                buf.append(unescape(seg) if "&" in seg else seg)
        pos = e
        t = m.group(0)
        if t[1] == "!":
            # comments are page-unique — classified inline, never
            # memoized (they would crowd the bounded token cache)
            if t.startswith("<!--") and t.endswith("-->"):
                continue
            return None  # declaration / CDATA section / bogus
        act = actions.get(t)
        if act is None:
            act = _classify_token(t)
            if len(actions) < _TOKEN_ACTIONS_MAX:
                actions[t] = act
        if act == _A_FLUSH:
            if buf:
                b = " ".join("".join(buf).split())
                buf.clear()
                if b:
                    blocks.append(b)
        elif act == _A_NOOP:
            pass
        elif act == _A_SCRIPT or act == _A_STYLE:
            close = "</script>" if act == _A_SCRIPT else "</style>"
            ce = html.find(close, e)
            if ce < 0:
                return None
            if _CDATA_FALSE_END.search(html, e, ce):
                return None  # a case/space-variant closer would end CDATA earlier
            pos = ce + len(close)
        elif act == _A_SKIP_INC:
            skip += 1
        elif act == _A_SKIP_DEC:
            if skip:
                skip -= 1
        else:  # _A_DEFER
            return None
    if buf:
        b = " ".join("".join(buf).split())
        if b:
            blocks.append(b)
    return "\n".join(blocks)


def extract_text_auto(html: bytes | str | None) -> str:
    """Fast path with spec fallback — the extraction kernel every
    distributed operator uses (identical output by construction).
    A record without payload (null html) extracts to ""."""
    if html is None:
        return ""
    out = extract_text_fast(html)
    return extract_text(html) if out is None else out


@pandas_udf(StringType())
def _extract_text_udf(html: pd.Series) -> pd.Series:
    # Arrow batch in, Arrow batch out; the loop is per-batch Python,
    # which is the vectorized-UDF contract for opaque binary kernels.
    return html.map(extract_text_auto)


def html_to_text(pages: DataFrame) -> DataFrame:
    """K1 operator: pages(url, warc_ts, html, lang, ...) -> text_extracted.
    The staged oracle's K1 (``kg.pipeline.stage_extract``).

    Drops ``html`` immediately after extraction so the (large) binary
    column never crosses another stage boundary — Arrow UDFs are
    column-pruning barriers, so the projection is explicit
    (SURVEY.md §4 "Arrow UDFs are pruning barriers").
    """
    keep = [c for c in pages.columns if c not in ("html", "text")]
    return pages.select(*keep, _extract_text_udf(F.col("html")).alias("text"))
