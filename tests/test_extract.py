"""K1 byte-identity gates (BASELINE.json:15, SURVEY.md §5 layers 1+3)."""

import hashlib

from kg.extract import extract_text
from tests.oracle.extract_frozen import extract_text_frozen

# pin the frozen spec file: an intentional spec change must update
# this hash in the same commit (freeze discipline, SURVEY.md §5)
FROZEN_SHA256 = "1798d46a7743a2f6200554819f6d8f87d6ca741c4734fe0aba581a03241b4ccf"

ADVERSARIAL = [
    b"",
    b"plain text, no tags at all",
    b"<p>unclosed paragraph",
    b"<html><body><script>alert('<p>not text</p>')</script><p>real</p>",
    b"<p>a &amp; b &lt;c&gt; &#64;</p>",
    b"<div>nested <div>blocks <p>inside</p></div> tail</div>",
    b"<p>spaces\t\tand\n\nnewlines   collapse</p>",
    b"<!-- comment --><p>after comment</p><!-- trailing -->",
    b"<style>p{}</style><noscript><p>hidden</p></noscript><p>shown</p>",
    "<p>unicode: café 中文 emoji \U0001f600</p>".encode(),
    b"<SCRIPT>UPPER case skip</SCRIPT><P>upper p</P>",
    b"<br/><hr/><p>self-closing blocks</p>",
    b"\xff\xfe invalid utf8 \x80\x81 <p>still works</p>",
]


def test_frozen_oracle_pinned():
    body = open("tests/oracle/extract_frozen.py", "rb").read()
    assert hashlib.sha256(body).hexdigest() == FROZEN_SHA256, (
        "frozen extraction spec changed — if intentional, update "
        "FROZEN_SHA256 and re-review the byte-identity contract"
    )


def test_engine_matches_frozen_on_adversarial_html():
    for html in ADVERSARIAL:
        assert extract_text(html) == extract_text_frozen(html), html


def test_byte_identity_on_fixture(spark, clean_pages):
    rows = clean_pages.collect()
    for r in rows:
        assert extract_text(r["html"]) == r["text"], r["url"]
        assert extract_text_frozen(r["html"]) == r["text"], r["url"]


def test_spark_udf_byte_identity(spark, clean_pages):
    """The distributed Arrow-UDF path, not just the kernel."""
    from pyspark.sql import functions as F

    from kg.extract import html_to_text

    extracted = html_to_text(clean_pages.select("url", "html"))
    truth = clean_pages.select("url", F.col("text").alias("expected"))
    bad = (
        extracted.join(truth, "url")
        .filter(F.col("text") != F.col("expected"))
        .count()
    )
    assert bad == 0


# fast-path-specific adversarial corpus: every bail condition plus
# near-miss inputs that must take the fast path and still match
FAST_EDGE = [
    b"<p title='x>y'>quoted gt</p>",           # '>' inside quoted attr
    b"<![CDATA[zz]]><p>q</p>",                 # CDATA section
    b"<?pi ?><div>d</div>",                    # processing instruction
    b"<SCRIPT>x</SCRIPT><p>y</p>",             # case-variant cdata open
    b"<script>a</SCRIPT><p>m</p>",             # case-variant cdata close
    b"<script>x</script >y",                   # spaced close
    b"<style >odd space</style><p>z</p>",
    b"a < b > c",                              # stray '<' in data
    b"< p>space before name</p>",
    b"<p foo='</p>'>end tag inside attr</p>",
    b"<p></P>case-variant close</p>",
    b"<p8>digit tag</p8>",
    b"<h2>t</h2 >space in end tag</h2>",
    b"<p\n  class='x'>newline in attrs</p>",
    b"<p  class='a'   id=b >unquoted attr</p>",
    b"<li>one<li>two</ul>",
    b"<script src='a.js'>b</script><p>k</p>",
    b"<script></script><p>empty cdata</p>",
    b"<p><b>inline</b> kept</p>",
    b"<div>n&eacute;e &notareal; &#65; &#x41; &amp</div>",
    # self-closing / slash-in-tag shapes (start vs startend must agree)
    b"<p / >x</p>",
    b"<p/ >y</p>",
    b"<br /extra>z",
    b"<p a=/>w</p>",
    b"<p a=b/>v</p>",
    b"<p //>s</p>",
    b"<script/>x</script>",
    b"<noscript/>vis</noscript>",
    # skip-tag slash ambiguity (start-vs-startend IS observable here;
    # the fast path must defer): html.parser enters CDATA for
    # '<script / >' but not for '<script />'
    b"<script / >hidden</script><p>after</p>",
    b"<script/ >hidden</script><p>after</p>",
    b"<script />hidden</script><p>after</p>",
    b"<style / >p{}</style><p>vis</p>",
    b"<noscript / >mid</noscript><p>end</p>",
    b"<noscript a=/>x</noscript><p>tail</p>",
    b"<template/ >t</template>ok",
    b"<script src='/a.js'>b</script><p>k</p>",
    # stray '<' inside a SKIPPED data segment can hide a real tag from
    # the naive tokenizer (r7 50k-fuzz find — the first shape made the
    # pre-fix scanner emit 'y\nend' where the spec says 'end'): the
    # fast path must defer, not silently drop the segment
    b'<noscript>x<style q="</p>">p{}</style>y</noscript><p>end</p>',
    b"<noscript>a < b</noscript><p>end</p>",
    b'<template>x<p q="</p>">y</template><p>end</p>',
]


def test_fast_path_identical_or_falls_back():
    """extract_text_fast either matches the frozen spec byte-for-byte
    or returns None (never a different answer); extract_text_auto is
    therefore always spec-identical."""
    from kg.extract import extract_text_auto, extract_text_fast

    for html in ADVERSARIAL + FAST_EDGE:
        fast = extract_text_fast(html)
        ref = extract_text(html)
        if fast is not None:
            assert fast == ref, html
        assert extract_text_auto(html) == ref, html


def test_null_html_extracts_empty():
    """A record without payload (null html) extracts to "" instead of
    raising, so one such row cannot fail a task."""
    from kg.extract import extract_text_auto

    assert extract_text_auto(None) == ""


def test_fast_path_covers_fixture(spark, clean_pages):
    """On fixture pages the fast path must actually engage (no silent
    100%-fallback that would erase the optimization) AND match."""
    from kg.extract import extract_text_fast

    rows = clean_pages.collect()
    fallbacks = 0
    for r in rows:
        fast = extract_text_fast(r["html"])
        if fast is None:
            fallbacks += 1
        else:
            assert fast == r["text"], r["url"]
    assert fallbacks == 0


def test_fast_path_differential_fuzz():
    """Differential fuzz: on random tag soup the fast scanner must
    equal the frozen spec or bail — two generators, one mostly-clean
    (so the fast path actually executes) and one hostile (every bail
    class mixed with data)."""
    import random

    from kg.extract import extract_text_fast

    def soup(rng, hostile):
        tags = ["p", "div", "span", "script", "style", "noscript",
                "template", "br", "b"]
        if hostile:
            tags += ["SCRIPT", "P"]
        clean_attrs = ["", " a='1'", ' b="2"', " c=d"]
        bad_attrs = [" /", "/", " a='>'", ' q="</p>"', " a='x", " <"]
        bits, stack = [], []
        for _ in range(rng.randint(1, 25)):
            r = rng.random()
            if r < 0.4:
                bits.append(rng.choice(
                    ["txt", "a &amp; b", "x  y", "&#65;", "w&nbsp;z"]
                    + (["a < b", "tail &amp", "<", ">", "&bogus;"]
                       if hostile else [])))
            elif r < 0.65:
                t = rng.choice(tags)
                at = rng.choice(clean_attrs + (bad_attrs if hostile else []))
                bits.append(f"<{t}{at}>")
                if t == "script":
                    bits.append("var x='1';</script>")
                elif t == "style":
                    bits.append("p{}</style>")
                else:
                    stack.append(t)
            elif r < 0.85 and stack:
                bits.append(f"</{stack.pop()}>")
            elif hostile and r < 0.93:
                bits.append(rng.choice(
                    ["<!-- c -->", "<!doctype html>", "<![CDATA[z]]>",
                     "<?pi?>", "<!-- unclosed", "</ script>", "<>"]))
            else:
                bits.append(rng.choice(["<br/>", "<p/>", "<!-- ok -->"]))
        return "".join(bits)

    for hostile, n in ((False, 3000), (True, 3000)):
        rng = random.Random(1234 + hostile)
        fast_runs = 0
        for _ in range(n):
            h = soup(rng, hostile)
            f = extract_text_fast(h)
            if f is not None:
                fast_runs += 1
                assert f == extract_text(h), h
        if not hostile:  # the clean generator must exercise the fast path
            assert fast_runs > n // 2, f"fast path ran only {fast_runs}/{n}"


def test_random_structure_byte_identity():
    """Property: for randomly nested block structures with known
    expected text (built alongside the html), extraction is
    byte-identical — independent of the fixture generator's shapes."""
    import random

    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "d&d", "<tag>", "ü", "x  y"]

    def build(depth=0):
        """Returns (html, expected_blocks)."""
        html, blocks = [], []
        for _ in range(rng.randint(1, 4)):
            r = rng.random()
            if r < 0.3 and depth < 3:
                h, b = build(depth + 1)
                tag = rng.choice(["div", "section", "blockquote"])
                html.append(f"<{tag}>{h}</{tag}>")
                blocks.extend(b)
            elif r < 0.5:
                html.append(f"<script>var x = '<p>junk</p>';</script>")
            elif r < 0.6:
                html.append(f"<!-- comment {rng.randint(0,9)} -->")
            else:
                from html import escape

                text_words = [rng.choice(words) for _ in range(rng.randint(1, 5))]
                inner = "   ".join(escape(w) for w in text_words)
                html.append(f"<p>{inner}</p>")
                expected = " ".join(" ".join(w.split()) for w in text_words)
                blocks.append(expected)
        return "".join(html), blocks

    from kg.extract import extract_text_auto

    for _ in range(200):
        h, blocks = build()
        want = "\n".join(b for b in blocks if b)
        assert extract_text(h.encode()) == want, h
        assert extract_text_auto(h.encode()) == want, h
