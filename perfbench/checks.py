"""Output checks. Every failed check counts as a failed operation."""

from __future__ import annotations

import hashlib
import os

TRIPLE_COLS = ["subj", "pred", "obj", "url", "warc_ts", "sent_no"]
EDGE_COLS = ["src_entity", "dst_entity", "pred", "weight"]
GRAPH_TABLES = ["nation", "customer", "supplier", "orders", "lineitem", "documents"]


def digest(df, cols: list[str]) -> tuple[int, int]:
    """Order-insensitive (row count, bit_xor of row xxhash64) over `cols`,
    the same construction as the pipeline's lineage rows."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(*[F.col(c).cast("string") for c in cols]).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x"))
        .first()
    )
    return int(row["n"]), int(row["x"] or 0)


def drop_one(df):
    """`df` minus one row: the deliberately corrupted output of the smoke test."""
    return df.exceptAll(df.orderBy(*df.columns).limit(1))


def sample_urls(n_pages: int, n_hosts: int = 1000, k: int = 12) -> list[str]:
    """A fixed sample of page urls, spread over the page-id range (the url
    format of corpus.distributed_pages)."""
    step = max(1, n_pages // k)
    return [f"https://host{i % n_hosts}.example/p/{i}" for i in range(0, n_pages, step)][:k]


def reference_sample(pages, extracted, triples, urls: list[str], corrupt: bool = False) -> list[str]:
    """Extracted text byte-identical and triples exactly equal to
    reference_impl on the sampled urls. Returns the list of mismatches."""
    from pyspark.sql import functions as F

    from docprocai_service_spark.reference_impl import run_reference

    rows = [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": bytes(r["html"]), "lang": r["lang"]}
        for r in pages.where(F.col("url").isin(urls)).select("url", "warc_ts", "html", "lang").collect()
    ]
    ref_ext, ref_triples, _ = run_reference(rows)
    got_text = {r["url"]: r["text"] for r in extracted.where(F.col("url").isin(urls)).select("url", "text").collect()}
    got = sorted(
        tuple(r) for r in triples.where(F.col("url").isin(urls)).select(*TRIPLE_COLS).collect()
    )
    if corrupt and got:
        got = got[1:]
    problems = []
    if len(rows) != len(urls):
        problems.append(f"sample: {len(rows)} of {len(urls)} urls present")
    for r in ref_ext:
        want = None if r["text"] is None else r["text"].encode("utf-8")
        have = got_text.get(r["url"])
        if (None if have is None else have.encode("utf-8")) != want:
            problems.append(f"extracted text differs for {r['url']}")
    want_triples = sorted(tuple(t[c] for c in TRIPLE_COLS) for t in ref_triples)
    if got != want_triples:
        problems.append(f"sample triples: {len(got)} vs reference {len(want_triples)}")
    return problems


def value_hash(rows: list[tuple]) -> str:
    """Order-free hash of result rows, with every value rendered by str()."""
    h = hashlib.sha256()
    for row in sorted(tuple(str(v) for v in r) for r in rows):
        h.update("|".join(row).encode())
    return h.hexdigest()[:16]


def oracle_hashes(tables_dir: str, names: list[str]) -> dict[str, tuple[list[str], int, str]]:
    """{query: (sorted column names, row count, hash)} from the queries'
    DuckDB oracle_sql() over the generated tables."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in GRAPH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t + '.parquet')}'")
        out = {}
        for name in names:
            res = con.execute(sql[name])
            cols = [d[0] for d in res.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            rows = [tuple(r[i] for i in order) for r in res.fetchall()]
            out[name] = (sorted(cols), len(rows), value_hash(rows))
        return out
    finally:
        con.close()


def result_hash(rows, columns: list[str]) -> tuple[list[str], int, str]:
    cols = sorted(columns)
    return cols, len(rows), value_hash([tuple(r[c] for c in cols) for r in rows])
