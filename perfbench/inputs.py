"""Workload inputs, made from the seed alone.

KG workloads get a parquet web-page table from the package's own corpus
generator (`distributed_pages`), split by page id into the build pages and
one landing parquet per micro-batch. The graph workload gets TPC-H-shaped
tables (only the columns the graph queries and their DuckDB oracles read)
and a `documents` table with planted near-duplicates, written with pandas.
Input generation is never timed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# Page-table files per corpus: two per task slot keeps every scan parallel
# without paying per-file overhead on a few thousand pages.
PAGE_FILES = 8


def page_id(url_col: str):
    """The page id in a url of corpus.distributed_pages (`.../p/<id>`)."""
    from pyspark.sql import functions as F

    return F.regexp_extract(url_col, r"/p/(\d+)$", 1).cast("long")


def kg_pages(spark, root: str, n_pages: int, seed: int, batches: int = 0, batch_pages: int = 0) -> dict:
    """Write the build pages (ids < n_pages) and `batches` landing tables of
    `batch_pages` later ids each, in one pass over the generated corpus.
    Returns {"build": dir, "batches": [dirs]}; each dir is a plain parquet
    table of the page schema."""
    from pyspark.sql import functions as F

    from docprocai_service_spark.corpus import distributed_pages

    total = n_pages + batches * batch_pages
    pages = os.path.join(root, "pages")
    pid = page_id("url")
    part = F.when(pid < n_pages, F.lit("build")).otherwise(
        F.concat(F.lit("batch"), ((pid - n_pages) / F.lit(max(batch_pages, 1))).cast("long"))
    )
    (distributed_pages(spark, total, seed=seed, partitions=PAGE_FILES)
     .withColumn("part", part).write.partitionBy("part").parquet(pages))
    return {
        "build": os.path.join(pages, "part=build"),
        "batches": [os.path.join(pages, f"part=batch{k}") for k in range(batches)],
    }


_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow group agg "
    "filter query big key window row table stream merge data vector join customer the"
).split()


def graph_tables(d: str, seed: int, customers: int, suppliers: int, orders: int,
                 lines_per_order: int, documents: int) -> str:
    """TPC-H-shaped tables for the entity graph plus a documents table.

    The entity graph the queries derive is supplier→customer (through
    lineitem⋈orders), customer→nation, supplier→nation and nation→region.
    About 5% of documents copy the previous one with one word changed, so
    the MinHash query has true near-duplicate pairs to find. Writes one
    parquet file per table into directory `d` and returns it."""
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)
    n_lines = orders * lines_per_order
    tables = {
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(1, customers + 1, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(1, suppliers + 1, dtype=np.int64),
            "s_nationkey": rng.integers(0, 25, suppliers).astype(np.int32),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(1, orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, customers + 1, orders, dtype=np.int64),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(1, orders + 1, n_lines, dtype=np.int64),
            "l_suppkey": rng.integers(1, suppliers + 1, n_lines, dtype=np.int64),
        }),
    }
    texts: list[str] = []
    for i in range(documents):
        if texts and rng.random() < 0.05:
            words = texts[-1].split()
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(8, 60)))]
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame({"doc_id": np.arange(documents, dtype=np.int64), "text": texts})
    for name, pdf in tables.items():
        pdf.to_parquet(os.path.join(d, f"{name}.parquet"), index=False)
    return d
