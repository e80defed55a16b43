"""Property tests on ADVERSARIAL inputs, not just the corpus: the two
extraction implementations (scalar oracle vs vectorized pandas/RE2) and the
one Arrow/RE2 triple kernel must match the pure-Python oracle — different
regex engines (RE2 vs re: ASCII vs Unicode \\s, no lookbehind) are the real
divergence risk.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from docprocai_service_spark.functions.text import (
    extract_text_series,
    extract_text_str,
    parse_triple,
    split_sentences,
)

# Alphabet that exercises the grammar's edge cases: predicate words, sentence
# punctuation, whitespace runs, HTML-ish fragments, unicode.
_WORDS = st.sampled_from(
    ["acme", "corp", "owns", "acquired", "founded", "is", "located", "in",
     "headquartered", "partnered", "with", "sued", "employs", "x", "ü", "é",
     "", ".", "!", "?", "<p>", "</p>", "&amp;", "a.b", "7"]
)
_TEXT = st.lists(_WORDS, min_size=0, max_size=30).map(" ".join)
_HTML = st.lists(_WORDS, min_size=0, max_size=40).map(
    lambda ws: "<html><body><main><p>" + " ".join(ws) + ".</p></main></body></html>"
)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_HTML)
def test_extract_scalar_equals_vectorized(html):
    import pandas as pd

    scalar = extract_text_str(html.encode("utf-8"))
    vec = extract_text_series(pd.Series([html.encode("utf-8")])).iloc[0]
    assert scalar == vec


def adversarial_sentences() -> list[str]:
    """One deterministic batch of adversarial sentences for the Spark-level
    comparisons (hypothesis drives the pure-Python side; the Spark side
    batches everything into a few jobs)."""
    import random

    rnd = random.Random(1234)
    words = ["acme", "corp", "owns", "acquired", "founded", "is located in",
             "employs", "x", ".", "?", "a.b", "ü", "", "with", "sued"]
    sents = []
    for i in range(400):
        n = rnd.randrange(0, 12)
        sents.append(" ".join(rnd.choice(words) for _ in range(n)))
    # hand-picked nasties: empty obj, double predicates, trailing dots,
    # predicate at the edges, only-predicate sentences
    sents += [
        "acme owns", "owns acme", "acme owns .", "a owns b owns c",
        "acme acquired b. corp sued d", "owns", " owns ", "a owns b..",
        "a is located in b", "a is located in", "x employs y employs z.",
        "a owns b. c owns d", "..", "a  owns  b",
    ]
    # Unicode whitespace the oracle's \s splits on after a period, and a
    # \u2028 before the trailing period: an engine whose \s is ASCII-only, or
    # whose `.` skips line terminators, splits or strips these differently.
    sents += [
        "acme owns corp.\xa0x acquired y.",
        "a owns b.\x85c founded d.",
        "acme owns corp.\u2003beta sued gamma.",
        "acme owns corp \u2028.",
    ]
    return sents


def _page_html(sentence: str) -> bytes:
    return f"<html><body><main><p>{sentence}</p></main></body></html>".encode()


def adversarial_pages(spark, sentences):
    """One English page per sentence, keyed u0000, u0001, …"""
    import datetime

    rows = [
        (f"u{i:04d}", datetime.datetime(2024, 1, 1), _page_html(s), None, "en")
        for i, s in enumerate(sentences)
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).localCheckpoint()


def oracle_triples(sentences) -> list[tuple]:
    """Scalar-oracle (subj, pred, obj, url, sent_no) rows, sorted."""
    want = []
    for i, s in enumerate(sentences):
        for sent_no, sent in enumerate(split_sentences(extract_text_str(_page_html(s)))):
            t = parse_triple(sent)
            if t and t[0] and t[2]:
                want.append((t[0], t[1], t[2], f"u{i:04d}", sent_no))
    return sorted(want)


def test_jvm_triple_parse_equals_python_on_adversarial(spark):
    """Both triple entry points vs the scalar oracle on adversarial sentences
    embedded in real pages. They share one parse kernel, so this checks the
    two extract paths feeding it: the fused in-batch extract and the
    extract_stage UDF whose text triples_stage parses."""
    from docprocai_service_spark.operators.extract import extract_stage
    from docprocai_service_spark.operators.triples import fused_triples_stage, triples_stage

    sentences = adversarial_sentences()
    pages = adversarial_pages(spark, sentences)
    cols = ["subj", "pred", "obj", "url", "sent_no"]
    staged = sorted(map(tuple, triples_stage(extract_stage(pages)).select(*cols).collect()))
    fused = sorted(map(tuple, fused_triples_stage(pages).select(*cols).collect()))
    want = oracle_triples(sentences)
    assert fused == want, "fused path diverges from the scalar oracle"
    assert staged == want, "extract_stage + triples_stage diverges from the scalar oracle"


# ---------------------------------------------------------------------------
# Python extractor vs its DuckDB RE2 mirror (the kg_*_docs oracle chain).
# RE2 has no lookbehind/backreferences and ASCII-only \s//(?i) folding, so
# the mirror uses rewrites whose equivalence must hold on adversarial input,
# not just the constructed corpus. Alphabet: HTML structure fragments,
# entities, malformed tags, whitespace runs, non-whitespace unicode (unicode
# WHITESPACE inside tags is the documented boundary: Python \s would match
# it, RE2's would not — no crawl-realistic html depends on that).
# ---------------------------------------------------------------------------

_HTMLISH = st.sampled_from(
    ["<main>", "</main>", "<body>", "</body>", "<p>", "</p>", "<div>", "</div>",
     "<nav>", "</nav>", "<header>", "</header>", "<footer>", "</footer>",
     "<aside>", "</aside>", "<script>var x=1;</script>", "<style>p{x}</style>",
     "<!-- hidden <p>c</p> -->", "<br/>", "<br >", "<ul>", "</ul>", "<li>", "</li>",
     "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;", "&amp;lt;",
     "text", "word.", "two  spaces", "\n", "\t", "  ", "é", "☃", "日本",
     "<", ">", "<unclosed", "<MAIN>", "</MAIN>", "<Main id='x'>", "a<b",
     "</h3>", "<h1>", "</table>", "<tr>", "</blockquote>", ".", "!", "?"]
)
_FUZZ_HTML = st.lists(_HTMLISH, min_size=0, max_size=25).map("".join)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_FUZZ_HTML)
def test_extract_python_equals_duckdb_re2_mirror(html):
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    from __spark_entry__ import duckdb_extract_sql

    want = extract_text_str(html)
    got = duckdb.execute(
        f"SELECT {duckdb_extract_sql('html')} FROM (SELECT ? AS html)", [html]
    ).fetchone()[0]
    assert got == want, (html, got, want)


# ---------------------------------------------------------------- BMP demux

_PIXEL = st.tuples(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255))
_FRAME_SPEC = st.tuples(st.integers(1, 17), st.integers(1, 9), _PIXEL)


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_FRAME_SPEC, min_size=1, max_size=6))
def test_bmp_stream_demux_roundtrip(specs):
    """Fuzz the concatenated-BMP walk (the reference's ffmpeg-pipe demux,
    VideoProcessor.py:72-81): any stream of valid frames splits back into
    exactly its frames byte-for-byte, and header metadata + the 24-bit luma
    decode match the generating parameters, padding excluded."""
    from docprocai_service_spark.operators.multimodal import (
        _bmp_meta_and_luma,
        _split_bmp_stream,
    )
    from tests.test_multimodal import _make_bmp

    frames = [_make_bmp(w, h, rgb) for (w, h, rgb) in specs]
    parts = _split_bmp_stream(b"".join(frames))
    assert parts == frames
    for (w, h, (r, g, b)), fr in zip(specs, parts):
        got_w, got_h, luma = _bmp_meta_and_luma(fr)
        assert (got_w, got_h) == (w, h)
        assert abs(luma - (0.299 * r + 0.587 * g + 0.114 * b)) < 1e-9


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.binary(min_size=0, max_size=200))
def test_bmp_stream_junk_never_silently_accepted(junk):
    """Arbitrary bytes either raise the typed ValueError or (for genuinely
    valid prefixes) split into frames that re-concatenate to the input —
    never a silent wrong split."""
    from docprocai_service_spark.operators.multimodal import _split_bmp_stream

    try:
        parts = _split_bmp_stream(junk)
    except ValueError as e:
        assert str(e) in ("invalid-bmp-magic", "truncated-bmp")
    else:
        assert b"".join(parts) == junk
