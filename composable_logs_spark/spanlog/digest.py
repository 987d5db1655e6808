"""Order-insensitive content digests for summarisation outputs — the
device that turns the 10^6-span fixture from invariant-checked into
HASH-proven: the generator (``biggen``) is counter-deterministic, so
the full summarisation result has exactly one correct value, and a
pinned digest catches any ownership/aggregation regression at relational
row counts the ~10^2-span golden fixtures cannot see.

Digest = (row_count, sum of 40-bit row-hashes mod p1, same mod p2)
per table. Each row hashes independently (md5 of a canonical string:
timestamps as epoch-micros, maps as sorted k=v lists — both partition-
and session-shape-proof) and the combine is a commutative SUM, so the
digest is independent of partitioning, row order, parallelism, and
AQE decisions; two moduli make a compensating-collision forgery
astronomically unlikely for regression purposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F, types as T

_M1 = (1 << 40) - 87   # both prime
_M2 = (1 << 40) - 195


def _canon_col(field: T.StructField):
    c = F.col(field.name)
    t = field.dataType
    if isinstance(t, T.TimestampType):
        return F.unix_micros(c).cast("string")
    if isinstance(t, T.MapType):
        return F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.map_entries(c)),
                lambda e: F.concat_ws("=", e["key"], e["value"].cast("string")),
            ),
        )
    if isinstance(t, T.ArrayType):
        return F.to_json(F.array_sort(c))
    return c.cast("string")


def multiset_digest(df: DataFrame) -> tuple[int, int, int]:
    """(n_rows, sum(h % p1), sum(h % p2)) over every row's canonical
    60-bit hash; one distributed aggregation, no sort, no collect of
    rows."""
    canon = F.concat_ws("|", *[_canon_col(f) for f in df.schema.fields])
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    r = (
        df.select((h % _M1).alias("h1"), (h % _M2).alias("h2"))
        .agg(F.count("*").alias("n"), F.sum("h1").alias("s1"), F.sum("h2").alias("s2"))
        .collect()[0]
    )
    return (r["n"], r["s1"] or 0, r["s2"] or 0)


def summaries_digest(s) -> dict[str, tuple[int, int, int]]:
    """Digest of every summarisation output table."""
    return {
        "task_runs": multiset_digest(s.task_runs),
        "workflow_runs": multiset_digest(s.workflow_runs),
        "deps": multiset_digest(s.deps),
        "logged_values": multiset_digest(s.logged_values),
    }
