"""Count-min sketch over a token/term stream (Cormode & Muthukrishnan
'05) — sublinear-memory frequency estimation.

Why an engine needs it at 100 TB: exact term frequencies require a
shuffle keyed by term over the full token stream; a count-min sketch
collapses that to ``depth × width`` counters that partial (map-side)
aggregation reduces to ≤ d·w rows per partition BEFORE the shuffle —
the shuffle moves kilobytes regardless of corpus size, and sketches
from disjoint corpus shards merge by cell-wise addition.

Determinism: the hash family is md5-derived (``h_d(t) = int(md5(d:t)
[:7hex]) mod width``) — no RNG, identical in Spark and DuckDB, so both
the sketch table and every estimate are oracle-checkable. Estimates
overcount (never undercount): estimate ≥ true, with error ≤ 2N/width
at probability 1-2^-depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 1024


def _bucket(depth_col, term_col, width: int):
    """md5-derived row-d hash bucket of a term — 28-bit prefix mod width."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", depth_col.cast("string"), term_col)), 1, 7),
        16,
        10,
    ).cast("bigint")
    return h % width


def _depths():
    """One row per sketch row ``depth`` in [0, DEFAULT_DEPTH), exploded."""
    return F.explode(F.sequence(F.lit(0), F.lit(DEFAULT_DEPTH - 1))).alias("depth")


def count_min_build(terms: DataFrame, width: int = DEFAULT_WIDTH) -> DataFrame:
    """Build the sketch over the ``term`` column: ``(depth, bucket,
    cnt)`` — one row per non-empty cell. One pass over the term
    stream: each occurrence fans out to ``DEFAULT_DEPTH`` (row, bucket)
    cells via a small explode, then a single hash aggregate whose
    keyspace is ≤ depth·width (map-side combine collapses everything
    before the shuffle)."""
    fanned = terms.select(F.col("term").alias("_t"), _depths())
    return (
        fanned.select("depth", _bucket(F.col("depth"), F.col("_t"), width).alias("bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(sketch: DataFrame, queries: DataFrame) -> DataFrame:
    """Point-estimate each query ``term``'s frequency: min over the
    sketch rows of the term's cell counters, for a sketch built at
    ``DEFAULT_WIDTH``. The sketch (≤ depth·width rows) broadcasts;
    estimation is a map-side join + one small aggregate."""
    probes = queries.select(F.col("term").alias("term"), _depths()).select(
        "term",
        "depth",
        _bucket(F.col("depth"), F.col("term"), DEFAULT_WIDTH).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )


# --- Bloom filter (Bloom '70), sparse representation -----------------
# The membership companion to the count-min sketch: the filter is the
# DISTINCT (row, bit) table of the keys' hash positions (≤ depth·width
# rows however many keys went in) — mergeable by union, buildable with
# one small aggregate, probe-able with a broadcast join. No false
# negatives; false-positive rate falls as width grows.


def bloom_build(keys: DataFrame) -> DataFrame:
    """Build the sparse filter ``(depth, bucket)`` over the ``key`` set."""
    return (
        keys.select(F.col("key").alias("_k"), _depths())
        .select("depth", _bucket(F.col("depth"), F.col("_k"), DEFAULT_WIDTH).alias("bucket"))
        .distinct()
    )


def bloom_contains(bloom: DataFrame, queries: DataFrame) -> DataFrame:
    """Probe: adds boolean ``possibly_present`` — true iff ALL depth bit
    positions of the key are set. Guaranteed true for every inserted
    key (no false negatives); may be true for absent keys at the
    filter's false-positive rate. Filter broadcasts; probing is
    map-side + one small aggregate.

    Keys are deduplicated before probing: a key appearing k times
    would otherwise contribute k rows per depth and a partial match
    (depth/k bits set) could masquerade as a full match in the
    all-bits count."""
    probes = queries.select(F.col("key")).distinct().select(F.col("key"), _depths()).select(
        "key",
        "depth",
        _bucket(F.col("depth"), F.col("key"), DEFAULT_WIDTH).alias("bucket"),
    )
    hit = F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
    return (
        probes.join(
            F.broadcast(bloom.withColumn("_hit", F.lit(1))), ["depth", "bucket"], "left"
        )
        .groupBy("key")
        .agg((F.sum(hit) == DEFAULT_DEPTH).alias("possibly_present"))
    )
