"""Training-data curation operators: sampling, distribution stats,
column profiling.

A 100 TB corpus pipeline needs, beyond dedup/similarity/text-quality:

- **Deterministic stratified sampling** — keep the top-k of each
  stratum (language, source, quality bucket) ranked by a content hash.
  Hash-ranked sampling is reproducible across runs, engines, and
  partitionings (unlike ``df.sample``'s seed-and-partition-dependent
  Bernoulli draw), which makes training mixtures auditable. md5 is the
  shared Spark/DuckDB hash, so the sample is oracle-checkable.
- **Exact distribution stats** — length percentiles per stratum drive
  mixture and truncation decisions. Spark's ``percentile`` (exact) is
  a sort-based aggregate; at 100 TB switch to ``percentile_approx``
  (t-digest sketch, single pass, mergeable partials) — both are
  registered here, the exact one oracle-checked, the sketch one
  rows-only.
- **Column profiling** — per-column null fraction / distinct count /
  min / max over an arbitrary table, the data-quality gate before a
  corpus joins the training mix. One wide aggregate pass: all columns
  profiled in a single job with map-side partials, no per-column scan.

The reference has no curation surface (its dedup is drop_duplicates,
emission-dag.py:76,96); these follow the same query+oracle contract as
the rest of the extension kit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hash_rate_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Per-stratum Bernoulli sampling at declared rates ("keep 50% of
    en, 10% of fr"; a stratum with no rate keeps nothing),
    deterministic via the content hash: a row is kept iff
    uniform(md5(id)) < rate(stratum). Unlike ``df.sample`` the
    draw is independent of partitioning and engine, so the mixture is
    auditable and each doc's in/out decision is stable across runs —
    rerunning with a HIGHER rate strictly grows the sample (nested
    samples, the property mixture tuning needs).

    Pure map-side filter: no shuffle at any size.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10).cast(
            "double"
        )
        / float(16**7)
    )
    rate = F.lit(0.0)
    for value, r in rates.items():
        rate = F.when(F.col(stratum_col) == value, F.lit(float(r))).otherwise(rate)
    return df.filter(u < rate)


def token_budget_select(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Fill a per-stratum token budget: rank each stratum's docs by
    ``md5(id)`` (the same auditable pseudo-random order as
    ``stratified_sample_topk``) and keep docs while the running token
    sum stays within ``budget`` — the mixture-building primitive
    ("200B tokens of web, 50B of code") expressed as one window
    cumulative sum, no driver loop, no second pass.

    A doc that would cross the budget is excluded (its successors too:
    selection is a prefix of the hash order, so the output is stable
    under re-runs and engine changes). One shuffle keyed by strata.
    """
    w = (
        Window.partitionBy(*strata)
        .orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_cum", F.sum(token_col).over(w))
        .filter(F.col("_cum") <= budget)
        .drop("_cum")
    )


def pack_sequences(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    token_col: str,
    context_len: int,
) -> DataFrame:
    """Assign each doc to a training-sequence bin of ~``context_len``
    tokens: docs are laid out in deterministic hash order and a bin
    boundary falls wherever the running token total crosses the next
    multiple of ``context_len`` — i.e. ``bin = floor((cumsum - n) /
    context_len)``, the doc belongs to the bin where it STARTS.

    This is the distributed approximation of greedy sequence packing:
    bins can overflow by at most one document (the straddler), which
    the tokenizer-side truncation absorbs; in exchange the layout is
    one window cumulative sum per stratum — no sequential driver loop,
    stable under re-runs. Returns the input plus ``bin_id``.
    """
    w = (
        Window.partitionBy(*strata)
        .orderBy(F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    return df.withColumn(
        "bin_id", F.floor((cum - F.col(token_col)) / context_len).cast("bigint")
    )


def stratified_sample_topk(
    df: DataFrame,
    strata: Sequence[str],
    id_col: str,
    k: int,
) -> DataFrame:
    """Keep the ``k`` rows of each stratum with the smallest
    ``md5(id)`` — a deterministic, engine-portable pseudo-random
    sample (md5 is uniform over ids, so this is an unbiased k-per-group
    draw that any engine reproduces bit-for-bit).

    Scale shape: one shuffle keyed by the strata; Spark plans the
    rank-filter as ``WindowGroupLimit`` (top-k pushed below the sort),
    so each partition keeps only k rows before the final window pass.
    Skewed strata are the hazard at 100 TB — the group-limit pushdown
    caps the damage since partial top-k runs map-side.
    """
    w = Window.partitionBy(*strata).orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def length_percentiles(
    df: DataFrame,
    strata: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Exact per-stratum p25/p50/p75/p95 of ``value_col`` plus count/mean.

    Exact ``percentile`` is a sort-based aggregate — correct but
    memory-bound per group; it is the oracle-checkable form. At 100 TB
    ``percentile_approx`` (a mergeable sketch, one pass, fixed memory
    per group) is the drop-in replacement.
    """
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(value_col), 6).alias("mean_val"),
    ]
    for p in (0.25, 0.5, 0.75, 0.95):
        aggs.append(
            F.round(F.expr(f"percentile({value_col}, {p})"), 6).alias(
                f"p{int(p * 100)}"
            )
        )
    return df.groupBy(*strata).agg(*aggs)


def profile_columns(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Per-column profile: rows, nulls, null fraction, distinct count,
    min, max (min/max rendered as strings so heterogeneous columns
    stack into one tall result).

    Single wide aggregate over one scan — every metric for every
    column computed in the same job with map-side partial aggregation;
    the per-column results are then unpivoted driver-free with a
    ``stack`` projection. ``count(distinct)`` per column expands the
    aggregate; at 100 TB swap in ``approx_count_distinct`` (HLL) to
    keep the pass single-shuffle.
    """
    cols = list(columns) if columns else list(df.columns)
    # internal aliases are index-based and source columns resolve
    # backtick-quoted, so arbitrary column names (spaces, quotes, dots)
    # neither break the parsed stack() expression nor misresolve as
    # nested-field paths
    def qcol(c: str):
        return F.col("`" + c.replace("`", "``") + "`")

    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.when(qcol(c).isNull(), 1).otherwise(0)).alias(f"_nulls_{i}"),
            F.countDistinct(qcol(c)).alias(f"_dist_{i}"),
            F.min(qcol(c)).cast("string").alias(f"_min_{i}"),
            F.max(qcol(c)).cast("string").alias(f"_max_{i}"),
        ]
    wide = df.agg(*aggs)
    stack_args = []
    for i, c in enumerate(cols):
        name_lit = c.replace("'", "''")  # SQL string-literal escape
        stack_args.append(f"'{name_lit}', _nulls_{i}, _dist_{i}, _min_{i}, _max_{i}")
    stacked = wide.selectExpr(
        "_rows",
        f"stack({len(cols)}, {', '.join(stack_args)}) "
        "AS (column_name, n_nulls, n_distinct, min_str, max_str)",
    )
    return stacked.select(
        "column_name",
        F.col("_rows").alias("n_rows"),
        "n_nulls",
        F.round(F.col("n_nulls") / F.col("_rows"), 6).alias("null_fraction"),
        "n_distinct",
        F.col("min_str").alias("min_value"),
        F.col("max_str").alias("max_value"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (tf · ln(N/df)), ties broken by term — the classic corpus keyword
    extractor (used for topic balancing / near-dup triage in curation).

    Scale shape: one token explosion → (doc, term) count (shuffle #1,
    map-side partial) → document frequency per term (shuffle #2 over
    the much smaller distinct doc-term set) → corpus size N broadcast
    as a 1-row cross join → per-doc top-k via WindowGroupLimit (partial
    top-k runs map-side). No Python, no driver collection.
    """
    from emission_project_spark.functions.text import tokens

    toks = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.explode(tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("doc_id", F.col("_rk").alias("rank"), "term", "tf", "df", "tfidf")
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    window: int,
    stride: int,
) -> DataFrame:
    """Split each document's token array into overlapping windows of
    ``window`` tokens taken every ``stride`` tokens — the
    context-length chunking step between cleaning and tokenization in
    a training-data pipeline (stride < window ⇒ consecutive chunks
    overlap by ``window - stride`` tokens, preserving cross-boundary
    context).

    Pure narrow plan: sequence → posexplode → slice, no shuffle and no
    Python — each input partition chunks independently, so the operator
    scales embarrassingly to a 100 TB corpus (output partitioning
    inherits the input's; a downstream repartition on chunk count is
    the caller's mixture decision). Chunk starts are
    ``0, stride, 2·stride, …`` while the start lies inside the array;
    the final chunk may be short (the tail), never empty for non-empty
    input. Emits ``id_col, chunk_id, chunk_start, n_tokens,
    chunk_text``.
    """
    if stride <= 0 or window <= 0:
        raise ValueError(f"window={window} and stride={stride} must be positive")
    n = F.size(F.col(tokens_col))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    exploded = df.select(
        F.col(id_col),
        F.col(tokens_col),
        F.posexplode(starts).alias("chunk_id", "chunk_start"),
    )
    chunk = F.slice(F.col(tokens_col), F.col("chunk_start") + 1, window)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("chunk_start").cast("bigint").alias("chunk_start"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )
