"""MERGE-style CDC application: apply a change batch (upserts +
deletes) onto a base snapshot in one pass.

The reference applies changes row-at-a-time with per-row SQL round
trips (``/root/reference/main.py:137-147``); the set-based engine form
is the lakehouse MERGE: delete matched keys, replace matched keys with
their new image, insert unmatched new keys — all as joins.

Scale shape: a CDC batch is orders of magnitude smaller than the base
snapshot, so the change-key set rides in as a BROADCAST anti join —
the base table is scanned once, map-only, with zero shuffle; survivors
union with the batch's upsert images. For the rare batch too big to
broadcast, the same plan degrades to a shuffled anti join on the key —
semantics identical, Catalyst/AQE picks the physical side. Combined
with dynamic partition overwrite (plans/source_queries.py) this is the
full incremental-publish loop: merge, then republish only the
partitions the batch touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_apply(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    seq_col: str | None = None,
) -> DataFrame:
    """Apply ``changes`` to ``base``. ``changes`` carries the base
    schema plus ``op_col``: 'U' rows are upsert images (replace the
    matched base row, or insert if the key is new), 'D' rows delete
    their key. Every changed key — U or D — is removed from the base
    via one anti join; U images are unioned back in. Exactly-once per
    key: a key appears at most once in the output.

    A CDC batch can legitimately carry SEVERAL images for one key (two
    updates, or update-then-delete). Like Delta's MERGE, applying such
    a batch naively is ambiguous, so the precondition is explicit:

    - ``seq_col`` given (a change-sequence / LSN column): the LATEST
      change per key wins — older images are discarded up front with a
      ``row_number`` window over the (small) batch, ordered by
      ``seq_col`` DESC with ``op_col`` DESC as deterministic tie-break
      ('U' outranks 'D' at equal sequence). This mirrors how Debezium /
      Delta CDF consumers compact a batch before MERGE.
    - ``seq_col`` omitted: keys must be unique in the batch, and the
      precondition is ENFORCED — a cheap eager aggregation over the
      batch raises ``ValueError`` naming offending keys rather than
      silently emitting duplicate rows. (One extra job over the CDC
      batch, which is broadcast-small by assumption; pass ``seq_col``
      to avoid it.)

    The anti join is pinned to a broadcast of the change keys (the
    right call for any normal CDC batch): base scanned map-only, zero
    shuffle."""
    if seq_col is not None:
        from pyspark.sql.window import Window as W

        w = W.partitionBy(key).orderBy(F.desc(seq_col), F.desc(op_col))
        changes = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        dups = (
            changes.groupBy(key)
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(5)
            .collect()
        )
        if dups:
            keys = ", ".join(str(r[key]) for r in dups)
            raise ValueError(
                f"merge_apply: multiple change rows for key(s) {keys}; "
                "pass seq_col to apply latest-wins, or pre-compact the batch"
            )
    kept = base.join(F.broadcast(changes.select(key)), key, "left_anti")
    upserts = changes.filter(F.col(op_col) == "U").select(*base.columns)
    return kept.unionByName(upserts)
