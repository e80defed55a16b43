"""Join-strategy choice for the package, plus explicit salting.

The reference never faces skew — it processes one document at a time
(reference: service/DocProcAiService.py:694-707) and delegates every real join
to Postgres. Here every join whose small side has a row count the driver
already holds (a checkpointed node, label or frontier vector) picks its plan
in ONE place, `small_side`, and logs it: at or below BROADCAST_ROWS the side
is broadcast, so the big side is only streamed; above it the side is hinted
shuffle-hash, so each partition's hash build holds only its share of the
small side. Skew on the big side of a shuffle-hash join (the Zipf head
entities, hub nodes) is left to AQE skew-join, enabled session-wide
(session.py).

The two alias-dictionary lookups (linking, materialize) go through
`pinned_broadcast`: always broadcast. Their probe side is the mention or
triple stream, not an O(nodes) vector, so BROADCAST_ROWS was not measured
for them, and the dictionary's size is not guarded yet.

`salted_join` is the explicit alternative AQE cannot express — it
replicates the small side n_salts× so each hot key's rows spread over
n_salts tasks; `bench.py --skew-ablation` measures it against the plain
join.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

#: Row count at or below which a join's small side (rank, label,
#: contribution or frontier vector) is broadcast. ~50 MB of broadcast per
#: 2M string-keyed rows.
BROADCAST_ROWS = 2_000_000


def small_side(df: DataFrame, n: int, site: str) -> DataFrame:
    """The small side of a join whose exact row count `n` the driver already
    holds: broadcast at or below BROADCAST_ROWS, shuffle-hash above it. The
    choice is logged with its site and count."""
    broadcast = n <= BROADCAST_ROWS
    _log.info("%s: n=%d -> %s", site, n, "broadcast" if broadcast else "shuffle_hash")
    return F.broadcast(df) if broadcast else df.hint("shuffle_hash")


def pinned_broadcast(df: DataFrame) -> DataFrame:
    """`df` materialized with an eager localCheckpoint, then marked for
    broadcast.

    Pinning comes BEFORE the side becomes a broadcast: a BroadcastExchange
    whose child is a window aggregation stalls for tens of seconds in AQE
    planning (observed 30-60 s); with the side pinned the broadcast build is
    milliseconds.
    """
    return F.broadcast(df.localCheckpoint())


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_on: str,
    n_salts: int = 8,
    how: str = "left",
) -> DataFrame:
    """Equi-join `big ⋈ small` on `key`, salted to defuse hot keys.

    big gets salt = pmod(xxhash64(salt_on), n_salts) — deterministic, so
    re-runs produce identical partition placement; small is replicated
    n_salts× via explode. Result is row-identical to the unsalted join
    (property-tested), but each hot key's rows now spread over n_salts
    shuffle partitions.
    """
    salted_big = big.withColumn("__salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(n_salts)))
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return salted_big.join(salted_small, [key, "__salt"], how).drop("__salt")
