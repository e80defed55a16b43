"""Deterministic HTML→text extraction + sentence/triple grammar.

This module is the *single source of truth* for the extraction contract: the
pure-Python scalar implementation (used by the oracle in reference_impl.py)
and the vectorized pandas implementation (used by the Spark pandas UDF) share
the same compiled regexes, so extracted text is byte-identical per url across
Arrow batches and partitionings — the hard determinism bar from SURVEY.md §7.

The reference delegates this to Apache Tika over a JVM boundary, one page at a
time (reference: fileextractlib/PdfProcessor.py:43-61, 15-43 LoC around Tika
calls). Tika is non-reproducible across versions and a per-row RPC; here the
extractor is a trafilatura-style boilerplate-stripping rule chain:

  1. decode UTF-8 (errors=replace)
  2. drop <script>/<style> blocks and <!-- comments -->
  3. take the first <main> block (tolerating a missing </main> — ~5%% of crawl
     rows are malformed); else <body>; else the whole document
  4. drop nav/header/footer/aside boilerplate blocks
  5. block-closing tags become newlines, remaining tags are stripped
     (including a trailing unclosed tag), basic entities unescaped
  6. per-line whitespace collapse, empty lines dropped, lines joined by \n

Empty results map to NULL — the analog of the reference's empty-page filter
(reference: fileextractlib/PdfProcessor.py:53-59).
"""

from __future__ import annotations

import re

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# --------------------------------------------------------------- regexes
# Compiled once; both the scalar and the vectorized paths use exactly these.
# script/style/comment removal is ONE leftmost-first alternation pass (a
# comment hides a script inside it and vice versa — more HTML-correct than
# three sequential passes, and 3× fewer scans of the document).
_RE_DROP = re.compile(r"(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>|<!--.*?-->")
_RE_MAIN = re.compile(r"(?is)<main\b[^>]*>(.*?)</main>")
_RE_MAIN_OPEN = re.compile(r"(?is)<main\b[^>]*>(.*)$")
_RE_BODY = re.compile(r"(?is)<body\b[^>]*>(.*?)</body>")
_RE_BODY_OPEN = re.compile(r"(?is)<body\b[^>]*>(.*)$")
_RE_BOILER = re.compile(r"(?is)<(nav|header|footer|aside)\b[^>]*>.*?</\1>")
_RE_BLOCK_CLOSE = re.compile(r"(?i)<br\s*/?>|</(p|div|li|ul|ol|h[1-6]|tr|table|section|article|blockquote)>")
_RE_TAG = re.compile(r"(?s)<[^>]*>")
_RE_TAG_OPEN_TRAIL = re.compile(r"<[^>]*$")
# Single-pass fusion of _RE_TAG then _RE_TAG_OPEN_TRAIL (vectorized path
# only; the scalar oracle keeps the two passes so tests pin equivalence).
# Proof sketch: both scan left→right; at an unconsumed '<' with a '>'
# somewhere after it, both remove exactly '<'..first-'>' ; at a '<' with NO
# '>' after it, pass 1 leaves the tail byte-identical (no further match is
# possible) and pass 2 removes '<'..EOF — which is precisely what the
# second alternative does in the fused scan. Tag removal never creates new
# '<' or '>' characters, so the induction carries through the whole string.
_RE_TAG_ALL = re.compile(r"(?s)<[^>]*>|<[^>]*$")
_RE_SPACES = re.compile(r"[ \t\r\f\v]+")
_RE_LINE_EDGE = re.compile(r"(?m)^[ ]+|[ ]+$")
_RE_EMPTY_LINES = re.compile(r"\n{2,}")

# Entity unescape: ONE left-to-right pass over a fixed table. Equivalent to
# the old sequential per-entity replaces (replacements are never rescanned,
# so "&amp;lt;" still yields literal "&lt;", not "<") but scans the text once.
_ENTITY_MAP = {
    "&nbsp;": " ",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&amp;": "&",
}
_RE_ENTITY = re.compile("|".join(re.escape(k) for k in _ENTITY_MAP))


def _entity_sub(m: re.Match) -> str:
    return _ENTITY_MAP[m.group(0)]

# ------------------------------------------------------- triple grammar
# OpenIE-style predicate vocabulary; longest-first so the alternation prefers
# multi-word predicates. Must stay valid in BOTH Python `re` and RE2 — the
# oracle compiles TRIPLE_REGEX, the Spark kernel runs TRIPLE_REGEX_RE2.
PREDICATES = [
    "is headquartered in",
    "is located in",
    "partnered with",
    "invested in",
    "merged with",
    "acquired",
    "founded",
    "employs",
    "produces",
    "supplies",
    "owns",
    "sued",
]
_PRED_ALT = "|".join(sorted(PREDICATES, key=len, reverse=True))

# Sentence boundary: split after ./!/? followed by whitespace (Unicode \s),
# or at line breaks. The oracle's `re.split` pattern; the Spark kernel runs
# its lookbehind-free RE2 rewrite (_ARROW_SENT_NORM below).
SENT_SPLIT_REGEX = r"(?<=[.!?])\s+|\n+"
_RE_SENT_SPLIT = re.compile(SENT_SPLIT_REGEX)

# subj PRED obj. — non-greedy leftmost predicate, optional trailing period.
TRIPLE_REGEX = rf"^(.+?) ({_PRED_ALT}) (.+?)\.?$"
_RE_TRIPLE = re.compile(TRIPLE_REGEX)

# ----------------------------------------------- Arrow/RE2 fast-path twins
# The vectorized path offloads the regex passes that dominate its CPU to
# pyarrow.compute (RE2, vectorized C++ across the whole batch — guide §4.2)
# wherever the RE2 twin is PROVABLY equivalent to the Python pattern. The
# scalar oracle above keeps the Python patterns; parity is pinned by the
# fuzz suites (tests/test_arrow_parity.py + test_fuzz_parity.py).
#
# Python-`re` vs RE2 divergences that the twins must compensate (the passes
# that would need `\b` — script/main/boiler tag opens, where RE2's \b is
# ASCII-only vs Python's Unicode — deliberately STAY on the pandas head:
# pandas extract measured faster than RE2-with-captures there anyway):
#   * `\s` in RE2 is ASCII-only; Python's is Unicode. _PY_WS_RE2 is the
#     LITERAL enumeration of every codepoint Python's \s matches (29, none
#     astral — verified exhaustively over all of Unicode this round).
#   * `$` without (?m) in RE2 is end-of-TEXT; Python's also matches before a
#     trailing '\n'. The one twin using '$' (TRIPLE_REGEX_RE2) runs on
#     provably '\n'-free strings — sentences, where every '\n' was a split
#     separator.
#   * RE2 has no lookbehind — the sentence boundary is rewritten as
#     normalize-then-split (proof at _ARROW_SENT_NORM below).
# The three whitespace-cleanup patterns used verbatim below contain no \s,
# \b, \w or lookaround, so they mean the same thing in both engines.
_ARROW_SPACES = r"[ \t\r\f\v]+"
_ARROW_LINE_EDGE = r"(?m)^[ ]+|[ ]+$"
_ARROW_EMPTY_LINES = r"\n{2,}"

# Every codepoint Python re's \s matches (exhaustive; none above 0xFFFF).
_PY_WS_RE2 = (
    "\\t\\n\\x0b\\x0c\\r\\x1c-\\x1f \\x85\\xa0\\x{1680}"
    "\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}"
)

# Sentence boundary without lookbehind: first normalize every
# punctuation-then-whitespace-run boundary to a single '\n' (the replacement
# keeps the punctuation via \1), then split on '\n' and drop empty pieces.
# Equivalence to re.split(SENT_SPLIT_REGEX) + empty-filter: the alternation
# `(?<=[.!?])\s+|\n+` prefers the \s+ branch, which consumes the maximal
# whitespace run after punctuation — exactly what this replacement consumes,
# leaving one '\n'; runs NOT after punctuation can only split at their
# '\n' characters (branch 2), which the plain '\n' split reproduces; the
# empty pieces a '\n{2,}' run produces are dropped on both sides.
_ARROW_SENT_NORM = rf"([.!?])[{_PY_WS_RE2}]+"

# Named-group RE2 twin of TRIPLE_REGEX (RE2 extract requires named groups).
# `$` here is safe: sentences are '\n'-free by construction (see above), so
# Python's trailing-newline `$` special case can never fire.
TRIPLE_REGEX_RE2 = rf"^(?P<s>.+?) (?P<p>{_PRED_ALT}) (?P<o>.+?)\.?$"


# ------------------------------------------------- scalar (oracle) path
def extract_text_str(html: bytes | str | None) -> str | None:
    """Pure scalar extraction — the oracle the Spark path must match byte-for-byte."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace") if isinstance(html, (bytes, bytearray)) else html
    s = _RE_DROP.sub("", s)
    for rx in (_RE_MAIN, _RE_MAIN_OPEN, _RE_BODY, _RE_BODY_OPEN):
        m = rx.search(s)
        if m:
            s = m.group(1)
            break
    s = _RE_BOILER.sub("", s)
    s = _RE_BLOCK_CLOSE.sub("\n", s)
    s = _RE_TAG.sub("", s)
    s = _RE_TAG_OPEN_TRAIL.sub("", s)
    s = _RE_ENTITY.sub(_entity_sub, s)
    s = _RE_SPACES.sub(" ", s)
    s = _RE_LINE_EDGE.sub("", s)
    s = _RE_EMPTY_LINES.sub("\n", s).strip("\n")
    return s if s else None


def split_sentences(text: str | None) -> list[str]:
    """Oracle sentence split; the Spark kernel's twin is arrow_sentences.
    Empty fragments are dropped on both sides before sentence numbering."""
    if not text:
        return []
    return [s for s in _RE_SENT_SPLIT.split(text) if s]


def parse_triple(sentence: str) -> tuple[str, str, str] | None:
    """Oracle-side (subj, pred, obj) parse; the Spark kernel matches the
    same grammar through TRIPLE_REGEX_RE2."""
    m = _RE_TRIPLE.match(sentence)
    if not m:
        return None
    return m.group(1), m.group(2), m.group(3)


# ---------------------------------------------- vectorized (Spark) path
def _to_str_series(html: pd.Series) -> pd.Series:
    sample = html.dropna()
    if len(sample) and isinstance(sample.iloc[0], (bytes, bytearray)):
        return html.str.decode("utf-8", errors="replace").astype("string")
    return html.astype("string")


def extract_text_arrow(html: pd.Series) -> pa.Array:
    """Vectorized extraction over an Arrow batch: pandas .str head (the
    patterns that need Python-re semantics: backrefs in _RE_BOILER, and
    extract passes where pandas measured faster than RE2-with-captures),
    then the whitespace-cleanup tail — ~60% of the chain's CPU on a
    corpus-shaped batch — through pyarrow/RE2 (measured 2.5× on that tail;
    byte-identity vs the scalar oracle pinned by tests). Returns the
    pa.StringArray so the fused parse can stay in Arrow; use
    extract_text_series for the pandas view."""
    s = _to_str_series(html)
    s = s.str.replace(_RE_DROP, "", regex=True)
    # fallback chain: main -> unclosed main -> body -> unclosed body -> as-is.
    # Each fallback regex runs ONLY on the rows the previous steps left null
    # (r7, guide §1.2 "don't compute things you throw away": the old chain
    # ran every fallback extract over every row and discarded the ~95% whose
    # <main> already matched — three full-document regex passes wasted on a
    # normal crawl batch). fillna semantics are unchanged by construction.
    extracted = s.str.extract(_RE_MAIN, expand=False)
    for rx in (_RE_MAIN_OPEN, _RE_BODY, _RE_BODY_OPEN):
        na = extracted.isna() & s.notna()
        if not na.any():
            break
        extracted.loc[na] = s[na].str.extract(rx, expand=False)
    s = extracted.fillna(s)
    s = s.str.replace(_RE_BOILER, "", regex=True)
    s = s.str.replace(_RE_BLOCK_CLOSE, "\n", regex=True)
    # one fused pass for tag strip + unclosed-trailing-tag strip (see
    # _RE_TAG_ALL: provably the same result as the oracle's two passes)
    s = s.str.replace(_RE_TAG_ALL, "", regex=True)
    s = s.str.replace(_RE_ENTITY, _entity_sub, regex=True)
    # ---- Arrow tail: the three whitespace passes + trim + empty->NULL.
    # The patterns carry no \s/\b/\w/lookaround, so RE2 and Python re agree
    # character-for-character (see the twin-pattern notes above).
    arr = pa.Array.from_pandas(s, type=pa.string())
    arr = pc.replace_substring_regex(arr, pattern=_ARROW_SPACES, replacement=" ")
    arr = pc.replace_substring_regex(arr, pattern=_ARROW_LINE_EDGE, replacement="")
    arr = pc.replace_substring_regex(arr, pattern=_ARROW_EMPTY_LINES, replacement="\n")
    arr = pc.utf8_trim(arr, characters="\n")
    # empty -> NULL (empty-page filter)
    return pc.if_else(
        pc.equal(pc.utf8_length(arr), 0), pa.scalar(None, pa.string()), arr
    )


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized extraction over an Arrow batch — pandas view of
    extract_text_arrow. Byte-identical per row to extract_text_str."""
    s = extract_text_arrow(html).to_pandas()
    return s.astype(object).where(s.notna(), None)


def arrow_sentences(text_arr: pa.Array):
    """Flat sentence split of a text column, all-Arrow + numpy.

    Returns (sentences pa.StringArray, doc_idx int64 ndarray, sent_no int64
    ndarray): exactly the rows `[x for x in _RE_SENT_SPLIT.split(t) if x]`
    yields per document, with each sentence's source-row index and its
    position AFTER empty-piece filtering — the fused parse's bookkeeping.
    Null/empty docs contribute zero rows. Equivalence proof of the
    normalize-then-split rewrite: _ARROW_SENT_NORM above."""
    import numpy as np

    norm = pc.replace_substring_regex(
        text_arr, pattern=_ARROW_SENT_NORM, replacement="\\1\n"
    )
    lists = pc.split_pattern(norm, pattern="\n")
    flat = pc.list_flatten(lists)  # null docs contribute no pieces
    ll = (
        pc.list_value_length(lists)
        .fill_null(0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    keep = pc.greater(pc.utf8_length(flat), 0).to_numpy(zero_copy_only=False)
    doc_idx_all = np.repeat(np.arange(len(ll)), ll)
    ck = np.cumsum(keep)
    starts = np.zeros(len(ll), dtype=np.int64)
    np.cumsum(ll[:-1], out=starts[1:])
    kept_before = np.concatenate([[0], ck])[starts]
    sent_no = (ck - 1 - kept_before[doc_idx_all])[keep]
    return pc.filter(flat, pa.array(keep)), doc_idx_all[keep], sent_no.astype(np.int64)
