"""Benchmark-contamination check — flag corpus documents sharing word
n-grams with any item of a benchmark/eval table (the standard
training-data decontamination pass: GPT-3 appendix C / PaLM-style 13-gram
overlap, here with configurable n and threshold).

No reference analog (the reference is a course-content service); this is a
first-class LLM-training-pipeline operator per the build brief, alongside
operators/dedup.py. Tokenization is byte-identical to the MinHash shingle
path (functions/hashing.py:_shingle_list, word mode): lowercase,
whitespace-run split, n-grams space-joined, the WHOLE text as one gram when
it has ≤ n tokens, and DISTINCT gram sets per document — so one oracle
grammar covers dedup, Jaccard, and contamination.

Scale shape (the 100 TB plan): benchmark suites are small (10^4-10^6 items
→ ~10^7 distinct grams), so the exploded benchmark gram table is
BROADCAST; the corpus side is one projection scan whose exploded grams
hash-probe the broadcast table map-side — corpus rows that share no gram
with any benchmark item are dropped before any shuffle. The only shuffle
is the (doc, bench) match-count aggregation, which carries ONLY matching
gram pairs (vanishingly few relative to the corpus). Zero Python on the
hot path: tokenization and n-gram construction are JVM higher-order
functions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_ngrams(text: Column, n: int = 3) -> Column:
    """DISTINCT word n-grams of `text` as array<string>, JVM-only.

    Mirrors functions/hashing._shingle_list(word=True) exactly: lowercase,
    split on whitespace runs (empty tokens filtered, so leading/trailing
    whitespace behaves like Python str.split), space-joined n-grams, and the
    whole token list as a single gram when there are ≤ n (but > 0) tokens.
    Empty/blank text yields an empty array.

    The split uses Java's (?U) flag so \\s covers Unicode whitespace
    (NBSP, NEL, ideographic space …) like Python str.split does; the one
    residual divergence is the \\x1c-\\x1f separator controls, which Python
    isspace() accepts but Unicode White_Space excludes — absent from any
    text this pipeline tokenizes (the extractor normalizes controls).

    Evaluation-order pitfall, measured: referencing the tokenization
    EXPRESSION inside the per-gram lambda makes Catalyst re-run
    split+filter once per gram — O(tokens²) per document (3.9 s for the
    sf0.1 corpus). The single-element transform below is Spark's
    let-binding idiom: `toks` is evaluated once per ROW and the lambda
    variable carries the VALUE into the gram loop (0.49 s, 8×).
    """
    toks = F.filter(F.split(F.lower(text), r"(?U)\s+"), lambda x: F.length(x) > 0)

    def grams_of(t: Column) -> Column:
        return (
            F.when(F.size(t) == 0, F.array().cast("array<string>"))
            .when(F.size(t) <= n, F.array(F.array_join(t, " ")))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: F.array_join(F.slice(t, i, n), " "),
                )
            )
        )

    return F.array_distinct(F.transform(F.array(toks), grams_of)[0])


def contamination_pairs(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 3,
    min_common: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """(doc, benchmark-item) pairs sharing >= min_common distinct word
    n-grams → (id_col, bench_id_col, n_common_grams), the decontamination
    worklist (drop or tag every doc_id that appears).

    Both gram sets are DISTINCT per id, so count(*) over the gram equi-join
    IS the distinct-intersection size — no countDistinct shuffle needed.
    The benchmark side is broadcast (eval suites are tiny next to the
    corpus), so the corpus never shuffles on grams; only matching pairs
    reach the aggregation.
    """
    # Spread small-file inputs BEFORE the gram explode/probe (guide §2.5
    # input skew / §6 small files): a few-MB parquet corpus arrives as 1-2
    # scan splits, and the whole explode → broadcast-probe → partial-agg
    # pipeline (which fans out to Σ_g c_g·b_g matched rows — far larger than
    # the input) would run on 1-2 cores. Measured at sf1.0 (50k docs, 32
    # cores): 42.9 s single-split vs ~3 s spread. The guard is scale-aware:
    # a real corpus scan has ≥ parallelism splits and the repartition is a
    # no-op branch (same idiom as similarity_edges).
    #
    # The corpus is spread by HASH(id), not round-robin, for two reasons
    # (guide §2.4 "remove shuffles outright"): (a) explode and the broadcast
    # probe preserve the streamed side's partitioning, so
    # hashpartitioning(id) already satisfies the (id, bench_id) aggregation's
    # clustering — the match-count agg runs as ONE complete in-partition
    # hash agg with NO exchange, where the round-robin spread shuffled every
    # matched (doc, bench) pair a second time (at sf1.0 that second shuffle
    # carried ~34M pair rows vs the 50k-row spread); (b) keyless repartition
    # pays a sort-before-repartition pass that hash partitioning skips. ids
    # are unique, so hash spreading cannot skew. The benchmark side feeds a
    # broadcast build only — a round-robin spread is fine there.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < min(par, 8):
        corpus = corpus.repartition(par, F.col(id_col))
    if benchmarks.rdd.getNumPartitions() < min(par, 8):
        benchmarks = benchmarks.repartition(par)
    c = corpus.select(
        F.col(id_col), F.explode(word_ngrams(F.col(text_col), n)).alias("gram")
    )
    b = benchmarks.select(
        F.col(bench_id_col),
        F.explode(word_ngrams(F.col(bench_text_col), n)).alias("gram"),
    )
    return (
        c.join(F.broadcast(b), "gram")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_common_grams"))
        .filter(F.col("n_common_grams") >= min_common)
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmarks: DataFrame,
    n: int = 3,
    min_common: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Doc-level rollup of contamination_pairs: one row per contaminated
    doc with the number of benchmark items hit and the worst overlap —
    the column a filter pass anti-joins the corpus against."""
    pairs = contamination_pairs(
        corpus, benchmarks, n=n, min_common=min_common,
        id_col=id_col, text_col=text_col,
        bench_id_col=bench_id_col, bench_text_col=bench_text_col,
    )
    return pairs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_benchmarks_hit"),
        F.max("n_common_grams").alias("max_common_grams"),
    )
