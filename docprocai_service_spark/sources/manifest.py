"""Checkpoint-resumable stage store (capabilities C9/C10).

Reproduces the reference's ingestion state machine — ENQUEUED→PROCESSING→DONE
rows with crash-recovery sweeps (reference:
persistence/IngestionStateDbConnector.py:48-112,
service/DocProcAiService.py:639-668) — without per-row state:

  * "DONE"   = the stage's output directory contains Spark's _SUCCESS marker
               (committed atomically by the output committer) plus a
               manifest.json with row counts. A torn write has no _SUCCESS
               and is treated as absent — exactly the reference's
               "re-enqueue PROCESSING rows after crash" semantics.
  * batches  = the page stages commit per micro-batch: each batch's rows land
               under a hidden `__batch=<id>` partition (`append_new`), and a
               batch id counts as committed once the `LOG_STAGE` manifest —
               the batch log, written last — records it with its page-set
               fingerprint. `read()` prunes every stage to committed ids, and
               `rollback` deletes the dirs of any id above them, so a batch
               that crashed halfway is invisible and its retry overwrites it.
               Idempotence is a fact of the commit, not of the rows: no
               append anti-joins against what its stage already holds.
  * resume   = `todo_keys`: the input pages whose (url, warc_ts) keys the
               stage does not hold, found without shuffling the stage — the
               reference's re-materialization of missing ENQUEUED rows.
  * idempotent re-runs: stage writes are whole-directory overwrites,
    batch-numbered appends or bucket-scoped upserts — the Spark replacement
    for the reference's delete-then-reinsert per record
    (service/DocProcAiService.py:102-103) and ON CONFLICT upserts
    (persistence/SegmentDbConnector.py:101-124).
  * one writer of the KG stages: streaming/incremental.py's protocol, which
    a store-mode run_pipeline calls too.
  * one bucketed layout: 16 `__bucket=` dirs of pmod(xxhash64(key), 16),
    owned here alone (`bucket_of`, `write_bucketed`, `scan_buckets`) and
    recorded as `n_buckets` in the manifest; a committed stage in any other
    layout is refused, never migrated.
  * two merge semantics on that layout: `upsert` REPLACES rows by key (the
    ON CONFLICT DO UPDATE surface) or, with `add=<column>`, SUMS that column
    over equal keys (the additive edge-weight merge) — each one scan of the
    touched buckets plus one write job.
  * schema-carrying reads: every manifest records the stage's data schema
    (partition columns excluded, every field nullable — exactly what a
    parquet read returns), and `read()` hands it to the reader, so no read
    pays Spark's footer-inference job. A manifest without one reads by
    inference.

This is the parquet-with-manifest fallback chosen at milestone M0 (no Iceberg
runtime jar in the sandbox — SURVEY.md §7); the writer surface is one class so
an Iceberg-backed implementation can swap in behind `StageStore`.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import shutil

from pyspark.sql import (
    Column,
    DataFrame,
    DataFrameReader,
    DataFrameWriter,
    Observation,
    SparkSession,
)
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

_log = logging.getLogger(__name__)

KEYS = ["url", "warc_ts"]

#: Partition column of the batch layout (hidden by `read()`): a micro-batch's
#: rows of a page stage live under `__batch=<id>`.
BATCH_COL = "__batch"
#: The stage whose manifest is the batch log: an id is committed once this
#: stage's manifest records it, and every stage's reads stop at that id.
LOG_STAGE = "extracted"

#: Partition column of the bucketed stage layout (hidden by `read()`).
#: Upserts rewrite only the buckets an incoming batch touches (dynamic
#: partition overwrite) and point reads list only those dirs — at 100 TB
#: this is the difference between O(batch) and O(table).
BUCKET_COL = "__bucket"
#: Bucket count of every bucketed stage (FIXTURES.md F3: bucket(16, src_entity)).
N_BUCKETS = 16


def bucket_of(key: str) -> Column:
    """Bucket id of a key column: pmod(xxhash64(key as string), N_BUCKETS) —
    stable across runs, executors and key column widths, so the same key
    always lands in the same partition dir."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(N_BUCKETS)).cast("int")


def write_bucketed(df: DataFrame, path: str, key: str) -> None:
    """Overwrite `path` with `df` in the bucketed layout keyed by `key` (an
    existing bucket column is replaced)."""
    (
        df.withColumn(BUCKET_COL, bucket_of(key))
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )


def scan_buckets(spark: SparkSession, path: str, on: DataFrame, key: str) -> DataFrame:
    """Rows of the bucketed layout at `path` lying ONLY in the buckets of
    `on`'s `key` values. The bucket ids reach the scan as a PARTITION
    filter, so the parquet listing prunes to ≤ N_BUCKETS touched dirs (a
    plain read + semi-join scans every bucket)."""
    return _in_buckets(spark.read.parquet(path), _hot_buckets(on, key))


def _hot_buckets(on: DataFrame, key: str) -> list[int]:
    """Bucket ids of `on`'s `key` values, collected from the JVM xxhash64
    that wrote the layout — a Python reimplementation would silently drift."""
    return [r[0] for r in on.select(bucket_of(key)).distinct().collect()]


def _batch_writer(df: DataFrame, batch: int, mode: str) -> DataFrameWriter:
    """A writer of `df`'s rows at batch id `batch` (`__batch=<batch>` dirs).
    The partition value is a literal, so the write plans no sort."""
    return df.withColumn(BATCH_COL, F.lit(batch)).write.mode(mode).partitionBy(BATCH_COL)


def _in_buckets(df: DataFrame, hot: list[int]) -> DataFrame:
    return df.where(F.col(BUCKET_COL).isin(hot)).drop(BUCKET_COL)


def _nullable(dt: DataType) -> DataType:
    """`dt` with every field, element and value nullable — the schema a
    parquet read returns for data written with `dt`."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _data_schema(df: DataFrame) -> StructType:
    """The schema a parquet read of `df`'s written files returns, partition
    columns excluded."""
    hidden = (BUCKET_COL, BATCH_COL)
    return _nullable(StructType([f for f in df.schema.fields if f.name not in hidden]))


def content_fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, str]:
    """Order-free content fingerprint of `df` over `cols`: (row count,
    "count:bit_xor-of-row-xxhash64"). One job and no shuffle — the
    aggregates ride as an observation on a noop write; the commutative xor
    makes it independent of partitioning/ordering AND overflow-free under
    Spark 4's ANSI mode (a long SUM over hashes raises — same reason
    plans/pipeline.lineage_rows uses bit_xor). Used as the alias-dict
    staleness detector (canon_map manifests), the graph-features stamp
    (streaming/incremental.py) and the shard export's input id
    (operators/materialize.export_shards)."""
    observed, fingerprint = observed_fingerprint(df.select(*cols), cols)
    observed.write.format("noop").mode("overwrite").save()
    return fingerprint()


def observed_fingerprint(df: DataFrame, cols: list[str]) -> tuple[DataFrame, callable]:
    """`df` with content_fingerprint's aggregates attached as an observation,
    and a function returning (row count, fingerprint) once an action over
    the returned frame has run — the fingerprint rides on a job that runs
    anyway."""
    obs = Observation()
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("h"))
    return observed, lambda: (int(obs.get["n"]), f"{obs.get['n']}:{obs.get['h']}")


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach a row-count observation so the WRITE job itself yields the
    manifest count — no post-write rescan of the output (the round-2
    count-by-rescan was a full extra table scan per stage per batch)."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


class StageStore:
    """Directory-per-stage parquet store with _SUCCESS + manifest.json."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths
    def path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}.manifest.json")

    # ------------------------------------------------------------- state
    def is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS")) and os.path.exists(
            self._manifest_path(stage)
        )

    def version(self, stage: str) -> tuple[int, int] | None:
        """(inode, mtime ns) of the committed manifest, None when not done.
        Every commit replaces the manifest by rename, so an unchanged version
        means no commit since. No Spark job."""
        st = os.stat(self._manifest_path(stage)) if self.is_done(stage) else None
        return st and (st.st_ino, st.st_mtime_ns)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)

    def annotate(self, stage: str, meta: dict) -> None:
        """Merge extra keys into a committed stage's manifest (atomic
        rename) — e.g. stamping canon_map with the alias-dict fingerprint
        once everything downstream of it has been refreshed."""
        doc = self.manifest(stage)
        doc.update(meta)
        self._replace_manifest(stage, doc)

    # ---------------------------------------------------------------- IO
    def has_staging_leak(self, stage: str) -> bool:
        """Leaked .spark-staging dir = a dynamic-partition-overwrite job died
        mid-commit (some bucket dirs swapped, others not). Callers doing
        ADDITIVE merges must treat the stage data as ambiguous and repair
        exactly — upsert's own recount only fixes the manifest row count."""
        return bool(glob.glob(os.path.join(self.path(stage), ".spark-staging*")))

    def write(
        self, stage: str, df: DataFrame, meta: dict | None = None, batch: int | None = None
    ) -> DataFrame:
        """Overwrite the stage output; manifest committed only after _SUCCESS.
        Row count comes from an observe() on the write job — metadata-only
        commit, no rescan. `meta` entries are recorded in the manifest (e.g.
        the alias-dict fingerprint a canon_map was derived from). With
        `batch`, the stage is rewritten in the batch layout with every row at
        that id: a full rewrite of a page stage passes a committed id, so a
        later retry of an uncommitted batch can never overwrite these rows."""
        self._overwrite(stage, df, None, meta, batch)
        return self.read(stage)

    def _overwrite(
        self, stage: str, df: DataFrame, bucket_by: str | None, meta: dict | None = None,
        batch: int | None = None,
    ) -> None:
        obs_df, obs = _observed(df)
        if bucket_by:
            write_bucketed(obs_df, self.path(stage), bucket_by)
        elif batch is not None:
            _batch_writer(obs_df, batch, "overwrite").parquet(self.path(stage))
            meta = {**(meta or {}), "batch": batch}
        else:
            obs_df.write.mode("overwrite").parquet(self.path(stage))
        self._commit_manifest(
            stage, rows=int(obs.get["rows"]), bucketed=bool(bucket_by),
            schema=_data_schema(df), meta=meta,
        )

    def append_new(self, stage: str, df: DataFrame, batch: int, log: dict | None = None) -> int:
        """Commit `df` as batch `batch` of the stage and return its row count.

        One write job: the rows land under `__batch=<batch>` (the whole
        stage, when it is not done), and the manifest adds the count the
        write observed. Nothing is read — whether these rows are new is
        settled by the batch id, not by an anti-join against the stage: a
        retry first drops every id ≥ `batch` (`rollback`), so it overwrites
        its own id, and `read()` hides the id until the batch log commits
        it. The reference checks existence before each insert
        (service/DocProcAiService.py:360-366); here the page-level check is
        `todo_keys` and the row-level one is the batch id.

        `log` (the batch-log stage's append only) is recorded with the id as
        the batch's log entry — e.g. its page-set fingerprint — and the
        commit is logged at INFO."""
        done = self.is_done(stage)
        if done:
            self.rollback(stage, batch - 1)
        obs_df, obs = _observed(df)
        _batch_writer(obs_df, batch, "append" if done else "overwrite").parquet(self.path(stage))
        n = int(obs.get["rows"])
        prior = self.manifest(stage) if done else {"rows": 0}
        meta = {"batch": batch}
        if log is not None:
            entry = {"id": batch, **log, "rows": {**log.get("rows", {}), stage: n}}
            meta["log"] = [*prior.get("log", []), entry]
        self._commit_manifest(
            stage, rows=prior["rows"] + n, bucketed=False, schema=_data_schema(df), meta=meta
        )
        if log is not None:
            _log.info(
                "batch %d committed: %s pages, rows %s", batch, log.get("pages"), entry["rows"]
            )
        return n

    def committed_batch(self) -> int:
        """Id of the last batch the batch log committed; 0 before the first."""
        return self.manifest(LOG_STAGE).get("batch", 0) if self.is_done(LOG_STAGE) else 0

    def batch_log(self) -> list[dict]:
        """The batch log's entries, oldest first: one per committed id."""
        return self.manifest(LOG_STAGE).get("log", []) if self.is_done(LOG_STAGE) else []

    def rollback(self, stage: str, upto: int) -> None:
        """Drop every batch of `stage` above id `upto`: its `__batch=` dirs are
        deleted (each drop logged with stage and id) and a manifest that
        counted one of them is recounted — or, with nothing left at or below
        `upto`, removed. A no-op, with no Spark job, when the stage holds no
        id above `upto`."""
        root = self.path(stage)
        for name in os.listdir(root) if os.path.isdir(root) else []:
            col, _, batch = name.partition("=")
            if col == BATCH_COL and int(batch) > upto:
                shutil.rmtree(os.path.join(root, name))
                _log.info("%s: dropped uncommitted batch %s", stage, batch)
        if not self.is_done(stage) or self.manifest(stage).get("batch", 0) <= upto:
            return
        if upto == 0:
            self.invalidate(stage)
            return
        doc = self.manifest(stage)
        doc.update(rows=self._scan(stage, upto).count(), batch=upto)
        if "log" in doc:
            doc["log"] = [e for e in doc["log"] if e["id"] <= upto]
        self._replace_manifest(stage, doc)

    def upsert(
        self, stage: str, df: DataFrame, keys: list[str] = KEYS, add: str | None = None
    ) -> DataFrame:
        """MERGE by key tuple, bucket-scoped. Two semantics:

          * ``add=None`` — rows whose key tuple already exists are REPLACED
            by the incoming rows; new keys are appended — the reference's ON
            CONFLICT DO UPDATE (persistence/SegmentDbConnector.py:101-124,
            MediaRecordInfoDbConnector.py:26-38).
          * ``add="<column>"`` — the stage holds exactly `keys` + that one
            column, and rows with equal keys are SUMMED: the touched buckets'
            rows and the incoming rows go through one aggregation (the
            additive edge-weight merge of streaming/incremental.py).

        The stage is laid out bucketed by `keys[0]` (`bucket_of`). Equal key
        tuples share a bucket, so a merge collects the incoming batch's
        bucket ids once, reads ONLY those buckets (partition pruning on an
        IN-list of ≤ N_BUCKETS ints) and rewrites ONLY those buckets via
        dynamic partition overwrite — untouched buckets are never read or
        written, so merge cost is O(touched buckets), not O(table).

        A committed stage with no rows is overwritten by `df`. A committed
        stage in any other layout (no `__bucket=` dirs, or a manifest
        recording another bucket count) raises ValueError and is left
        untouched.

        Crash contract (no committed row is ever lost):
          * mid-write crash: new files live in a hidden .spark-staging dir;
            committed data + manifest untouched; replay converges.
          * mid-commit crash (some buckets swapped): every swapped bucket holds
            the merge of old and new rows for that bucket — a loss of
            nothing. A replace-upsert converges on replay; an additive one is
            ambiguous (some buckets already hold the sum), which is why its
            caller brackets it with an intent record. A leaked staging dir
            marks this; the next upsert then recounts exactly instead of
            trusting manifest arithmetic.
          * write-committed-but-manifest-missing crash: adopted on entry
            (_SUCCESS present → re-commit manifest), never rebuilt from the
            incoming batch alone."""
        if add is not None and sorted(df.columns) != sorted([*keys, add]):
            raise ValueError(f"add={add!r} needs exactly the columns {[*keys, add]}, got {df.columns}")
        target = self.path(stage)
        self._recover(stage)
        if not self.is_done(stage) or self.manifest(stage)["rows"] == 0:
            self._overwrite(stage, df, keys[0])
            return self.read(stage)
        self._check_bucketed(stage)
        crashed = self.has_staging_leak(stage)
        # A replace reads `df` three times (bucket ids, replaced keys, new
        # rows), so it pins one evaluation; an additive merge reads it twice
        # and its caller hands in a persisted frame.
        src = df if add else df.withColumn(BUCKET_COL, bucket_of(keys[0])).persist()
        try:
            old_hot, obs_old = _observed(
                _in_buckets(self._reader(stage).parquet(target), _hot_buckets(src, keys[0]))
            )
            if add:
                merged = (
                    old_hot.unionByName(df)
                    .groupBy(*keys)
                    .agg(F.sum(add).cast(df.schema[add].dataType).alias(add))
                    .select(*old_hot.columns)
                )
            else:
                kept = old_hot.join(src.select(*keys).distinct(), keys, "left_anti")
                merged = kept.unionByName(src.drop(BUCKET_COL))
            merged, obs_out = _observed(merged.withColumn(BUCKET_COL, bucket_of(keys[0])))
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BUCKET_COL)
                .parquet(target)
            )
            if crashed:
                # a previous job died mid-commit: manifest arithmetic is
                # untrustworthy once — recount exactly, then clean up.
                rows = self.spark.read.parquet(target).count()
                for leak in glob.glob(os.path.join(target, ".spark-staging*")):
                    shutil.rmtree(leak, ignore_errors=True)
            else:
                rows = (
                    self.manifest(stage)["rows"]
                    - int(obs_old.get["rows"])
                    + int(obs_out.get["rows"])
                )
            self._commit_manifest(stage, rows=rows, bucketed=True, schema=_data_schema(merged))
        finally:
            if src is not df:
                src.unpersist()
        return self.read(stage)

    def _recover(self, stage: str) -> None:
        """Adopt a write job that committed (_SUCCESS present) but lost its
        manifest commit, instead of discarding committed rows."""
        target = self.path(stage)
        if not self.is_done(stage) and os.path.exists(os.path.join(target, "_SUCCESS")):
            committed = self.spark.read.parquet(target)
            self._commit_manifest(
                stage, rows=committed.count(), bucketed=self._is_bucketed(stage),
                schema=_data_schema(committed),
            )

    def _is_bucketed(self, stage: str) -> bool:
        return bool(glob.glob(os.path.join(self.path(stage), f"{BUCKET_COL}=*")))

    def _check_bucketed(self, stage: str) -> None:
        """A committed stage is input from disk: bucket-scoped reads and
        merges are exact only over this module's layout, so refuse any
        other before touching it."""
        n = self.manifest(stage).get("n_buckets")
        if not self._is_bucketed(stage) or n != N_BUCKETS:
            raise ValueError(
                f"stage {stage!r} is not in the {N_BUCKETS}-bucket {BUCKET_COL} layout "
                f"(manifest n_buckets={n}); invalidate and rewrite it before merging"
            )

    def _reader(self, stage: str) -> DataFrameReader:
        """A parquet reader carrying the stage's recorded data schema, so the
        read runs no footer-inference job (the bucket column is still
        discovered from the dirs); inference when none is recorded."""
        try:
            schema = self.manifest(stage).get("schema")
        except FileNotFoundError:
            schema = None
        reader = self.spark.read
        return reader.schema(StructType.fromJson(schema)) if schema else reader

    def _scan(self, stage: str, upto: int | None = None) -> DataFrame:
        """The stage's rows, pruned to batch ids ≤ `upto` (default: the
        committed id) by a partition filter; the hidden columns dropped."""
        df = self._reader(stage).parquet(self.path(stage))
        if BATCH_COL in df.columns:
            upto = self.committed_batch() if upto is None else upto
            df = df.where(F.col(BATCH_COL) <= upto).drop(BATCH_COL)
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df

    def read(self, stage: str) -> DataFrame:
        """The stage's committed rows: a batch the log has not committed is
        never visible."""
        return self._scan(stage)

    def _commit_manifest(
        self, stage: str, rows: int, bucketed: bool, schema: StructType,
        meta: dict | None = None,
    ) -> None:
        doc = {"stage": stage, "rows": rows, "schema": schema.jsonValue()}
        if bucketed:
            doc["n_buckets"] = N_BUCKETS
        if meta:
            doc.update(meta)
        self._replace_manifest(stage, doc)

    def _replace_manifest(self, stage: str, doc: dict) -> None:
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, self._manifest_path(stage))  # atomic rename

    # ------------------------------------------------------------ resume
    def todo_keys(self, stage: str, inputs: DataFrame, keys: list[str] = KEYS) -> DataFrame:
        """Input rows whose keys are NOT yet in the stage output (crash resume).

        The stage is never shuffled: its key scan is semi-joined against the
        broadcast input keys, and the inputs anti-join that result — the
        stage's rows of this batch's keys, no larger than the batch — as a
        second broadcast."""
        if not self.is_done(stage):
            return inputs
        done = self._scan(stage).select(*keys).join(
            F.broadcast(inputs.select(*keys)), keys, "left_semi"
        )
        return inputs.join(F.broadcast(done), keys, "left_anti")

    def invalidate(self, stage: str) -> None:
        """Drop a stage's manifest and _SUCCESS marker, so it reads as not
        done and its next write or upsert replaces it whole. rebuild_edges
        and refresh_graph_features invalidate before a full replace, and
        _sync_canonical_state before rewriting a stale canon_map; tests use
        it to simulate a torn write (a lost manifest), which
        incremental_ingest repairs or refuses stage by stage."""
        p = self._manifest_path(stage)
        if os.path.exists(p):
            os.remove(p)
        success = os.path.join(self.path(stage), "_SUCCESS")
        if os.path.exists(success):
            os.remove(success)
