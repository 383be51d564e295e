"""Temporal joins Spark's DataFrame API lacks as primitives: as-of join.

The classic "enrich each fact with the most recent dimension state at that
moment" operator (trades→quotes, purchases→latest click, doc→latest model
snapshot). Spark has no ASOF JOIN; the distributed formulation here is the
union + last-ignorenulls-window shape:

  1. tag right rows side=0, left rows side=1, union on (key, ts, side)
  2. one window per key ordered by (ts, side, seq): last(right payload,
     ignorenulls=True) up to the current row = the as-of match
  3. keep side=1 rows

One shuffle on the join key, no per-key Python, no range self-join blowup —
each row is touched once, the window state is one struct. Equal timestamps
match (side=0 sorts before side=1 at the same ts — DuckDB ASOF's inclusive
``>=`` semantics); ties among right rows at an identical (key, ts) break
deterministically on ``seq_col``, picking the LARGEST seq (it sorts last,
and last() wins) — callers needing different tie policy pre-dedup the right
side.

Skew note (100 TB): the window partitions by the join key, so one
pathologically hot key serializes into one task — as-of state is one
struct, so memory stays O(1) per row regardless. For a genuinely hot key,
``salt > 1`` spreads it: left rows take a deterministic salt from a row
hash, each RIGHT row is replicated to every salt (every salt partition
sees the full right timeline for its key, so the per-row match is
unchanged), and the window partitions by (key, salt). The cost is
right-side ×salt replication — the right/dimension side is the small one
in the as-of shape, the hot LEFT side is what needed spreading. Default
salt=1 (off): on uniform keys salting only adds replication + a wider
shuffle key (same trade measured for the commentary join,
BENCH/BASELINE.md salting journal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    seq_col: str | None = None,
    salt: int = 1,
) -> DataFrame:
    """Backward as-of LEFT join: every ``left`` row, enriched with the
    ``right`` row of the same ``on`` key having the greatest ``ts`` <=
    the left row's (nulls when no such row exists). Right payload columns
    come back prefixed with ``r_``. ``salt > 1`` spreads a hot
    key over ``salt`` window partitions (see module docstring)."""
    rcols = [c for c in right.columns if c != on]
    lcols = left.columns
    seq = F.col(seq_col) if seq_col else F.lit(0)

    # null-ts right rows would sort nulls-first and become the "most
    # recent" match for pre-history left rows; the as-of predicate
    # (l.ts >= r.ts) is never true for a null ts, so drop them (DuckDB
    # ASOF semantics). Null-ts LEFT rows keep flowing and get no match:
    # after this filter nothing sorts before them.
    right = right.filter(F.col("ts").isNotNull())
    r = right.select(
        F.col(on),
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__side"),
        seq.alias("__seq"),
        F.struct(*[F.col(c) for c in rcols]).alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
          for c in lcols if c != on],
    )
    l = left.select(
        F.col(on),
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(0).alias("__seq"),
        F.lit(None)
        .cast(r.schema["__payload"].dataType)
        .alias("__payload"),
        *[F.col(c).alias(f"__l_{c}") for c in lcols if c != on],
    )
    if salt > 1:
        # hot-key spread: each left row picks a deterministic salt from a
        # hash over its own columns; each right row is replicated to EVERY
        # salt, so each (key, salt) window partition holds the key's full
        # right timeline and per-row matches are identical to the unsalted
        # plan — only the task-level parallelism changes
        # salt from (key, ts) only: hashing arbitrary payload columns would
        # reject map-typed payloads (xxhash64 can't take MapType) and buys
        # no extra spread — a hot key's rows differ in ts, so (key, ts)
        # already scatters them (rows sharing an identical (key, ts) share
        # a salt; that degenerate case is one timestamp, not one key)
        l = l.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.col(on), F.col("__ts")), F.lit(salt)
            ).cast("int"),
        )
        r = r.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
        part = [on, "__salt"]
    else:
        part = [on]
    w = (
        Window.partitionBy(*part)
        .orderBy("__ts", "__side", "__seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = l.unionByName(r).withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    out = matched.filter(F.col("__side") == 1).select(
        F.col(on),
        *[F.col(f"__l_{c}").alias(c) for c in lcols if c != on],
        *[F.col("__match")[c].alias(f"r_{c}") for c in rcols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Point-in-interval range join: all (left, right) pairs of the same
    ``on`` key with ``start_col <= point_col <= end_col`` (numeric columns,
    e.g. epoch micros).

    Spark executes a raw non-equi theta join as a per-key nested loop; the
    scalable OSS formulation buckets time: the left point lands in ONE
    bucket (floor(point/W)); each right interval explodes over every bucket
    it covers; the join becomes an EQUI join on (key, bucket) plus an exact
    containment filter. No duplicates by construction — a qualifying pair
    meets in exactly the point's bucket. ``bucket_width`` trades right-side
    explosion (×(span/W + 1) rows) against join selectivity: pick W around
    the typical interval span so the explosion factor stays ~2 while a
    bucket holds only near-in-time rows.

    Output: all left columns + all right columns except ``on`` (callers
    pre-alias collisions)."""
    lb = left.withColumn(
        "__bucket", F.floor(F.col(point_col) / F.lit(bucket_width))
    )
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bucket_width)),
                F.floor(F.col(end_col) / F.lit(bucket_width)),
            )
        ),
    )
    rcols = [c for c in right.columns if c != on]
    return (
        lb.join(rb.select(on, "__bucket", *rcols), [on, "__bucket"])
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("__bucket")
    )
