"""Stage 2 — sentence split + OpenIE-style triple + mention extraction (C3/C5).

The reference does this shape as a per-document Python loop producing many
segment rows from one document (UDTF analog,
reference: fileextractlib/PdfProcessor.py:43-61 and the sessionized scan at
fileextractlib/VideoProcessor.py:92-174). Here one vectorized Arrow/RE2
kernel (_parse_batch) splits and parses a whole batch of page texts; both
entry points call it, so every execution path — lazy, store-mode, resume,
incremental — yields the same triples:

  * fused_triples_stage(pages): extract + parse in one mapInPandas pass;
  * triples_stage(extracted): parse of the materialized extracted text.

The RE2 patterns are proven twins of the pure-Python oracle's compiled
SENT_SPLIT_REGEX / TRIPLE_REGEX (functions/text.py); tests assert exact
triple equality on the synthetic corpus and on adversarial sentences.

Scale notes: narrow stage (no shuffle); fan-out is ~#sentences per page,
which is bounded; deterministic mention ids are sha256 of
(url, warc_ts, sent_no, role, surface) — never UUIDs (SURVEY.md §2.8), so
re-runs are idempotent and resumable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import TRIPLE_REGEX_RE2, arrow_sentences, extract_text_arrow

TRIPLES_SCHEMA = (
    "subj string, pred string, obj string, url string, warc_ts timestamp, sent_no int"
)

_EMPTY = {
    "subj": pd.Series(dtype="object"),
    "pred": pd.Series(dtype="object"),
    "obj": pd.Series(dtype="object"),
    "url": pd.Series(dtype="object"),
    "warc_ts": pd.Series(dtype="datetime64[us]"),
    "sent_no": pd.Series(dtype="int32"),
}


def _parse_batch(text: pa.Array, url: np.ndarray, warc_ts: np.ndarray) -> pd.DataFrame:
    """The one triple parser: a batch of page texts (NULL = no text) plus
    their keys → one row per parsed sentence.

    Sentence split + triple match stay in Arrow end to end, vectorized
    across the whole batch in native RE2: the twins are byte-identical to the oracle's Python patterns (proofs in
    functions/text.py; parity fuzz-pinned by tests/test_arrow_parity.py and
    tests/test_fuzz_parity.py). The parse is the one-shot anchored
    TRIPLE_REGEX_RE2 — the exact oracle semantic, whose `.+?` groups also
    guarantee non-empty subj/obj.
    """
    sents, doc_idx, sent_no = arrow_sentences(text)
    if not len(sents):
        return pd.DataFrame(_EMPTY)
    m = pc.extract_regex(sents, pattern=TRIPLE_REGEX_RE2)
    keep = pc.is_valid(m).to_numpy(zero_copy_only=False)
    mk = pc.filter(m, pa.array(keep))
    idx = doc_idx[keep]
    return pd.DataFrame(
        {
            "subj": pc.struct_field(mk, "s").to_pandas().to_numpy(),
            "pred": pc.struct_field(mk, "p").to_pandas().to_numpy(),
            "obj": pc.struct_field(mk, "o").to_pandas().to_numpy(),
            "url": url[idx],
            "warc_ts": warc_ts[idx],
            "sent_no": sent_no[keep].astype("int32"),
        }
    )


def triples_stage(extracted: DataFrame) -> DataFrame:
    """extracted_text → triples(subj, pred, obj, url, warc_ts, sent_no).

    The store-mode and incremental parse: the materialized text goes through
    the same kernel as fused_triples_stage. Only lang='en' rows enter
    (dispatch analog of reference: fileextractlib/DocumentProcessor.py:25-30);
    NULL-text pages yield no sentences inside the kernel.

    No JVM-side isNotNull(text) filter: Catalyst would push it below the
    extract projection, substituting — and thus evaluating — the Arrow
    extract UDF a second time per page (tests/test_plans.py pins one
    ArrowEvalPython).
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _parse_batch(
                pa.Array.from_pandas(pdf["text"], type=pa.string()),
                pdf["url"].to_numpy(),
                pdf["warc_ts"].to_numpy(),
            )

    return (
        extracted.filter(F.col("lang") == "en")
        .select("url", "warc_ts", "text")
        .mapInPandas(parse, schema=TRIPLES_SCHEMA)
    )


def fused_triples_stage(pages: DataFrame) -> DataFrame:
    """web_pages → triples in ONE mapInPandas pass: extract + the
    triples_stage kernel inside the Arrow batch, so html crosses the Python
    boundary once and the extracted text never does. Output-identical to
    triples_stage(extract_stage(pages)) (pinned by tests); the lazy
    pipeline and every kg_* query use it.
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["lang"] == "en"]
            if not len(pdf):
                yield pd.DataFrame(_EMPTY)
                continue
            yield _parse_batch(
                extract_text_arrow(pdf["html"]),
                pdf["url"].to_numpy(),
                pdf["warc_ts"].to_numpy(),
            )

    # lang pushdown happens JVM-side so non-English html never crosses Arrow
    return pages.filter(F.col("lang") == "en").mapInPandas(parse, schema=TRIPLES_SCHEMA)


def mentions_stage(triples: DataFrame) -> DataFrame:
    """triples → mentions, two per triple (subj + obj roles).

    mention_id = sha256(url|unix_micros(warc_ts)|sent_no|role|surface),
    identical to reference_impl.mention_id.
    """
    role_surface = F.explode(
        F.array(
            F.struct(F.lit("subj").alias("role"), F.col("subj").alias("surface")),
            F.struct(F.lit("obj").alias("role"), F.col("obj").alias("surface")),
        )
    ).alias("rs")
    m = triples.select("url", "warc_ts", "sent_no", role_surface)
    return m.select(
        F.sha2(
            F.concat_ws(
                "|",
                F.col("url"),
                F.unix_micros(F.col("warc_ts")).cast("string"),
                F.col("sent_no").cast("string"),
                F.col("rs.role"),
                F.col("rs.surface"),
            ),
            256,
        ).alias("mention_id"),
        "url",
        "warc_ts",
        "sent_no",
        F.col("rs.surface").alias("surface"),
        F.col("rs.role").alias("role"),
    )
