"""Scalable deduplication operators over the ``documents`` table.

Techniques (public literature: Broder '97 minhash/shingling; Charikar
'02 simhash; LSH banding as in Mining of Massive Datasets ch.3):

- exact dedup: hash group-by on a canonical fingerprint
- n-gram (shingle) Jaccard near-dup: shingle inverted index →
  per-bucket pair generation → per-pair intersection counts
- MinHash + LSH banding: per-band signature = min hash over shingles
  with a per-band salt; docs sharing any band signature are candidates
- SimHash: sign-aggregated bit fingerprint

Scale design notes (100 TB):
- every operator is shuffle-on-key aggregation — no driver
  materialization, no UDFs; map-side partial aggregation applies
- band mins and bit votes are computed as N parallel agg COLUMNS over
  one exploded pass, not N× exploded rows (8× / 32× less shuffle input)
- candidate pairs come from bucket arrays (collect_list per signature)
  rather than a self-join, so the signature pipeline runs ONCE; a
  pathological hot bucket (stop-shingle) is the standard LSH hazard —
  cap bucket size / document frequency before pairing at scale
  (``MAX_DOC_FREQ``, ``WINNOW_MAX_BUCKET``)

Hash discipline: md5 (hex string) is the shared deterministic hash —
identical in Spark and DuckDB — so every signature is oracle-checkable.
Min over hex strings = min over the underlying 128-bit integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from emission_project_spark.catalog.tables import spread_input
from emission_project_spark.functions.text import fingerprint, tokens
from emission_project_spark.operators.dedup import dedup_subset

DEFAULT_SHINGLE = 3
DEFAULT_BANDS = 8
SIMHASH_BITS = 32
# document-frequency cap of the shingle inverted index: a shingle in
# more docs than this is a stop-shingle and pairs nothing
MAX_DOC_FREQ = 64

# affine minhash family over one base hash — h_b = (A_b·h + B_b) mod P,
# the standard construction (same as Spark ML's MinHashLSH); constants
# are fixed so the DuckDB oracle can restate them
BAND_A = (769, 1031, 1543, 2053, 3079, 6151, 12289, 24593)
BAND_B = (
    12582917,
    25165843,
    50331653,
    100663319,
    201326611,
    402653189,
    805306457,
    1610612741,
)
MINHASH_MOD = 2147483647


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of exact (whitespace/punct-insensitive) duplicates:
    one row per fingerprint with the canonical (min) doc id and count.

    No ``spread_input`` here: one fingerprint per doc is too cheap to
    repay a repartition shuffle — unlike the shingle-explosion
    operators."""
    return (
        docs.select(F.col("doc_id"), fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _shingle_array() -> Column:
    """Word ``DEFAULT_SHINGLE``-shingles of a document as an array column.

    Implemented as a single regex pass: normalize separators to one
    space, then extract every overlapping k-token window with a
    lookahead anchored at token starts. ~12× faster than the
    transform/slice formulation — higher-order array lambdas run
    interpreted, outside whole-stage codegen, while regexp extraction
    stays codegen'd. Output is identical (verified elementwise)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\W+", " "))
    pattern = r"(?=\b(" + " ".join([r"\w+"] * DEFAULT_SHINGLE) + r"))"
    return F.regexp_extract_all(norm, F.lit(pattern), 1)


def shingles(docs: DataFrame) -> DataFrame:
    """Distinct word shingles per document: (doc_id, shingle)."""
    return (
        spread_input(docs)
        .select(F.col("doc_id").alias("doc_id"), F.explode(_shingle_array()).alias("shingle"))
        .distinct()
    )


def _pairs_from_bucket(arr: Column) -> Column:
    """All ordered (a < b) pairs from a sorted id array — generated
    JVM-side; replaces a self-join, so upstream runs once."""
    sorted_arr = F.array_sort(arr)
    return F.flatten(
        F.transform(
            sorted_arr,
            lambda x, i: F.transform(
                F.slice(sorted_arr, i + 2, F.size(sorted_arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _shingle_overlap(docs: DataFrame) -> DataFrame:
    """Every doc pair sharing a shingle kept by the ``MAX_DOC_FREQ`` cap:
    ``doc_a < doc_b``, ``n_common`` (shared kept shingles) and both
    docs' shingle-set sizes ``size_a``, ``size_b``."""
    # Materialized: the shingle postings feed the sizes and the
    # inverted index; inline, the shingling runs twice (sf0.1 shuffle
    # written: 19.4 → 24.8 MB in dedup_shingle_containment).
    sh = shingles(docs).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    buckets = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= MAX_DOC_FREQ)
    )
    inter = (
        buckets.select(F.explode(_pairs_from_bucket(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    # sizes is one row per DOCUMENT: ~16 B/doc, so the broadcast holds
    # into the hundreds of millions of docs and skips re-shuffling the
    # pair relation twice (measured 2x at the 10x corpus)
    return inter.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate pairs by exact shingle-set Jaccard ≥ threshold.

    Inverted index (shingle → sorted doc list) → in-bucket pair
    generation → per-pair intersection count → Jaccard against set
    sizes. ``MAX_DOC_FREQ`` drops shingles appearing in more than that
    many docs — the document-frequency cap that bounds the quadratic
    bucket blow-up at scale (a boilerplate shingle shared by k docs
    would otherwise emit k²/2 pairs; a stop-shingle carries no
    signal). The cap always applies.

    RETURN CONTRACT under the cap: reported ``jaccard`` is a LOWER
    BOUND for any pair sharing capped shingles (their intersection
    counts exclude those), and a pair whose overlap is entirely
    stop-shingles is not returned at all. The truncation is
    measurable: :func:`shingle_cap_report` quantifies, for the same
    corpus and cap, how many shingles/postings/docs the cap touches —
    run it when tuning ``MAX_DOC_FREQ`` for a new corpus.
    """
    return (
        _shingle_overlap(docs)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def shingle_cap_report(docs: DataFrame, max_doc_freq: int = MAX_DOC_FREQ) -> DataFrame:
    """Observability for the ``MAX_DOC_FREQ`` recall cap: one summary
    row quantifying exactly what :func:`ngram_jaccard_pairs` silently
    drops at the given cap — run it alongside (or before) a capped
    dedup pass to decide whether the cap is safe for the corpus.

    Columns: ``n_shingles`` (distinct shingles), ``n_capped`` (shingles
    above the cap, i.e. excluded from the inverted index),
    ``n_postings_dropped`` (doc-shingle postings those carried — the
    quadratic mass the cap removed), ``n_docs_affected`` (docs touching
    ≥1 capped shingle — the docs whose Jaccard becomes a lower bound).

    Single-pass shape: one shingle explosion (same as the index build),
    one window count keyed by shingle (each posting row learns its
    shingle's doc frequency — the same shuffle key the index build
    uses), one global aggregate. No join, no second scan.
    """
    cap = F.lit(max_doc_freq)
    sh = shingles(docs)
    with_freq = sh.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    hot = F.col("c") > cap
    return with_freq.agg(
        F.count_distinct("shingle").cast("bigint").alias("n_shingles"),
        F.count_distinct(F.when(hot, F.col("shingle"))).cast("bigint").alias("n_capped"),
        # each input row IS one (doc, shingle) posting — counting hot
        # rows counts dropped postings directly
        F.coalesce(F.sum(F.when(hot, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_postings_dropped"),
        F.count_distinct(F.when(hot, F.col("doc_id"))).cast("bigint").alias(
            "n_docs_affected"
        ),
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Asymmetric shingle-set CONTAINMENT near-dup pairs: the smaller
    shingle set's coverage by the larger, C = |A∩B| / min(|A|,|B|).

    This is the sub-document-copy detector Jaccard structurally
    misses: a 50-shingle quote fully embedded in a 5,000-shingle page
    has J ≈ 0.01 but C = 1.0 (Broder '97 distinguishes *resemblance*
    from *containment* for exactly this case). Training-corpus use:
    boilerplate/quotation mining and "doc A is a truncation of doc B"
    chains, both invisible to the symmetric detectors.

    Plan shape is identical to :func:`ngram_jaccard_pairs` (one
    inverted index, in-bucket pair generation, one intersection
    aggregate — the quadratic mass bounded by ``MAX_DOC_FREQ`` with
    the same lower-bound RETURN CONTRACT, measurable via
    :func:`shingle_cap_report`). Output orients each pair: ``src_doc``
    is the contained (smaller-set) side, ties broken by smaller id, so
    the row reads "src is contained in dst to degree ``containment``".
    """
    small_is_a = (F.col("size_a") < F.col("size_b")) | (
        (F.col("size_a") == F.col("size_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return (
        _shingle_overlap(docs)
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.least("size_a", "size_b"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src_doc"),
            F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst_doc"),
            "containment",
        )
    )


def contamination_overlap(docs: DataFrame, benchmark: DataFrame, min_shared: int = 8) -> DataFrame:
    """Benchmark decontamination: count word-shingle overlap between
    every corpus document and every benchmark document, keeping pairs
    sharing at least ``min_shared`` distinct shingles — the standard
    train/eval contamination check (eval questions verbatim inside a
    crawl page taint the benchmark).

    Scale shape: the benchmark side is an eval set — thousands of docs,
    not billions — so its shingle set broadcasts and the whole check is
    one map-side hash join over the corpus shingle stream plus one
    count aggregate keyed (doc, bench). The corpus is never shuffled by
    shingle. Returns ``(doc_id, bench_id, n_shared)``.
    """
    doc_sh = shingles(docs)
    bench_sh = shingles(benchmark).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def minhash_band_expr():
    """Per-ROW band-0 minhash signature as a pure Column expression:
    shingle array → md5 base int per element → affine band transform →
    ``array_min``. Bit-identical to ``minhash_band_signatures`` for
    band 0 (same hash family over the same shingles; min over a
    per-row array vs min over exploded rows).

    The trade vs the explode/groupBy formulation: the higher-order
    ``transform`` lambda runs interpreted (outside whole-stage codegen),
    but the computation is a NARROW map — no explode, no shuffle, no
    aggregation state — which makes it legal on a streaming frame
    before a stateful op (chaining an aggregation into
    ``dropDuplicates`` is not) and free of exchange at any scale.
    NULL when the document has fewer than ``DEFAULT_SHINGLE`` tokens
    (no shingles)."""
    base = (
        lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("bigint")
    )
    hashed = F.transform(
        _shingle_array(),
        lambda x: (base(x) * F.lit(BAND_A[0]) + F.lit(BAND_B[0]))
        % F.lit(MINHASH_MOD),
    )
    return F.array_min(hashed)


def minhash_bucket():
    """``minhash_band_expr`` with a per-document fallback for shingle-less
    docs (fewer than ``DEFAULT_SHINGLE`` tokens): such a doc cannot be a near-dup of
    anything, so it gets the unique negative bucket ``-(doc_id) - 1``
    (signatures are in [0, P) — no collision) instead of a NULL that
    would collapse every short doc into one dedup key."""
    return F.coalesce(
        minhash_band_expr(),
        -F.col("doc_id").cast("bigint") - F.lit(1),
    )


def minhash_band_signatures(docs: DataFrame) -> DataFrame:
    """Per-(doc, band) minhash signature: (doc_id, band, signature).

    ONE md5 per shingle → 28-bit base integer → ``DEFAULT_BANDS`` affine
    transforms (A_b·h + B_b mod P), min per band — the standard
    minhash family (Spark ML's MinHashLSH uses the same construction),
    ~8× less hashing than independent salted digests per band. The
    band mins are parallel aggregate COLUMNS over a single shingle
    explosion — no band-row explosion, one shuffle keyed by doc with
    map-side partial mins. Min is duplicate-insensitive, so no
    distinct pass is needed. Equivalent to r=1 rows/band:
    P[band match] = exact Jaccard.
    """
    exploded = spread_input(docs).select(
        F.col("doc_id").alias("doc_id"), F.explode(_shingle_array()).alias("shingle")
    )
    base = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint")
    hashed = exploded.select(
        "doc_id",
        *[
            ((base * F.lit(BAND_A[b]) + F.lit(BAND_B[b])) % F.lit(MINHASH_MOD)).alias(f"_h{b}")
            for b in range(DEFAULT_BANDS)
        ],
    )
    agg = hashed.groupBy("doc_id").agg(
        *[F.min(f"_h{b}").alias(f"_s{b}") for b in range(DEFAULT_BANDS)]
    )
    return agg.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"_s{b}") for b in range(DEFAULT_BANDS)])).alias(
            "band", "signature"
        ),
    )


def minhash_lsh_candidates(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 band signature, with
    the number of agreeing bands (bands_agree / bands estimates
    Jaccard). Bucketing replaces the quadratic all-pairs comparison;
    pair generation happens inside buckets (signature pipeline runs
    once — no self-join). Buckets are not capped."""
    sig = minhash_band_signatures(docs)
    buckets = sig.groupBy("band", "signature").agg(F.collect_list("doc_id").alias("ids"))
    return (
        buckets.select(F.explode(_pairs_from_bucket(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("bands_agree"))
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """SimHash fingerprint from token hashes (Charikar '02).

    Per token: a 60-bit integer from 15 hex chars of md5; per bit, a
    ±1 vote; fingerprint bit = sign of the vote sum. Votes are ``SIMHASH_BITS``
    parallel SUM columns over the token rows (no per-bit row explosion
    — 32× less aggregation input), then one expression reassembles the
    fingerprint. Token multiplicity intentionally weights votes.
    """
    toks = spread_input(docs).select(
        F.col("doc_id").alias("doc_id"),
        F.explode(tokens(F.lower(F.col("text")))).alias("tok"),
    )
    hashed = toks.select(
        "doc_id", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint").alias("h")
    )
    votes = hashed.select(
        "doc_id",
        *[
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_v{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    agg = votes.groupBy("doc_id").agg(
        *[F.sum(f"_v{b}").alias(f"_s{b}") for b in range(SIMHASH_BITS)]
    )
    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = term if simhash is None else simhash + term
    return agg.select("doc_id", simhash.alias("simhash"))


WINNOW_K = 5   # char k-gram length
WINNOW_W = 4   # winnowing window (grams per window)
WINNOW_MAX_BUCKET = 64  # fingerprint buckets above this are stop-grams
_POS_BITS = 20  # pos packs below the hash: docs up to ~1M grams


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken '03, the MOSS
    local document fingerprinting): hash every char k-gram, slide a
    w-gram window, keep each window's minimum hash (rightmost on ties).
    Guarantees any match of length ≥ k+w-1 shares a fingerprint, at
    ~2/(w+1) selection density — the rolling-hash fingerprint surface
    for partial-overlap/plagiarism-style dedup (whole-doc md5 in
    ``text_fingerprint`` only catches full-document dupes).

    Engine shape: the whole selection is a per-DOCUMENT computation,
    so it runs as one zero-shuffle higher-order-function map — pack
    every gram into an orderable BIGINT inside an array, slide the
    w-window with array_min over slices, array_distinct per doc,
    explode. Nothing is exchanged or sorted per character of corpus
    (``spread_input`` only repartitions the narrow doc rows for core
    balance). The
    argmin-with-rightmost-tie-break is one integer MIN:
    ``gram_hash·2^20 + (2^20-1-pos)`` packs (hash asc, pos desc) into
    a single orderable BIGINT that both Spark and the DuckDB oracle
    minimize identically — every md5/conv/pack expression is the same
    sequence of ops as the windowed form, so the fingerprints are
    bit-identical.
    """
    k, window = WINNOW_K, WINNOW_W
    n_grams = F.length("text") - k + 1
    # pos packs into _POS_BITS bits below the hash; a doc with >= 2^20
    # grams would wrap (negative pos complement corrupts the packed
    # argmin), so such docs are excluded rather than silently corrupted.
    # The exclusion is observable — winnow_oversized_report counts the
    # affected docs for the same corpus; chunk multi-MB documents
    # upstream (~1M chars, k+w-2 overlap) if they must be fingerprinted.
    base = spread_input(docs.filter((n_grams >= 1) & (n_grams < (1 << _POS_BITS)))).select(
        F.col("doc_id").alias("doc_id"),
        F.col("text").alias("_text"),
        n_grams.alias("_n"),
    )
    hi, mask = 1 << _POS_BITS, (1 << _POS_BITS) - 1
    # The outer transform-over-1-element-array is a LET BINDING: it
    # forces the packed-gram array to be evaluated once per row and
    # bound to the lambda variable `pk`. Without it, CollapseProject
    # inlines the array expression into the window lambda and every
    # window start would recompute ALL n md5 hashes (O(n²) per doc).
    # Window starts are 1..n-w+1 (full windows) plus the single
    # truncated window at pos 1 for docs shorter than w grams —
    # greatest(n-w+1, 1) covers both; least(w, n-s+1) truncates the
    # short-doc slice exactly like the old row frame did.
    fps = base.select(
        "doc_id",
        F.expr(
            f"transform(array(transform(sequence(1, _n), p -> "
            f"cast(conv(substring(md5(substring(_text, p, {k})), 1, 7), 16, 10)"
            f" as bigint) * {hi} + ({mask} - p))), "
            f"pk -> array_distinct(transform("
            f"sequence(1, greatest(_n - {window} + 1, 1)), "
            f"s -> array_min(slice(pk, s, least({window}, _n - s + 1))))))[0]"
        ).alias("_fps"),
    )
    # explode_outer, NOT explode: plain explode makes the optimizer
    # infer `size(_fps) > 0 AND isnotnull(_fps)` (InferFiltersFromGenerate)
    # and push that filter below the repartition — duplicating the whole
    # fingerprint computation twice more (measured 9× slower: two
    # serial evaluations on the narrow pre-spread input). The filtered
    # base guarantees _n ≥ 1, so _fps always has ≥ 1 element and the
    # outer variant emits exactly the same rows.
    return fps.select("doc_id", F.explode_outer("_fps").alias("_win_min")).select(
        "doc_id",
        (F.lit(mask) - (F.col("_win_min") % F.lit(hi))).alias("pos"),
        F.expr(f"_win_min div {hi}").alias("gram_hash"),
    )


def winnow_oversized_report(docs: DataFrame) -> DataFrame:
    """Observability for :func:`winnow_fingerprints`' size guard: that
    operator excludes documents with ≥ 2^20 char k-grams (the packed
    argmin would wrap), so multi-MB documents silently fall out of the
    fingerprint stream. This report makes the gap measurable — one
    summary row: ``n_docs`` (total), ``n_skipped_empty`` (shorter than
    one gram), ``n_oversized`` (excluded by the guard), ``max_grams``
    (largest gram count seen — headroom against the 2^20 limit). Run it
    with any winnow pass; a nonzero ``n_oversized`` means chunk those
    docs upstream (split at ~1M chars with k+w-2 overlap) before
    fingerprinting.
    """
    n_grams = F.length("text") - WINNOW_K + 1
    return docs.select(n_grams.alias("g")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.when(F.col("g") < 1, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_skipped_empty"),
        F.coalesce(F.sum(F.when(F.col("g") >= (1 << _POS_BITS), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_oversized"),
        F.coalesce(F.max(F.when(F.col("g") >= 1, F.col("g"))), F.lit(0))
        .cast("bigint")
        .alias("max_grams"),
    )


def winnow_overlap_pairs(docs: DataFrame, min_shared: int = 2) -> DataFrame:
    """Partial-overlap candidate pairs: documents sharing ≥ ``min_shared``
    winnowing fingerprints, with the shared count (overlap evidence).

    Catches plagiarism-style PARTIAL overlap that whole-document
    hashing misses and that minhash under-weights (Jaccard dilutes a
    short shared segment inside long documents). Same bucket-join shape
    as the LSH pipeline: group by fingerprint hash, pair within bucket,
    count per pair — shuffle-on-key all the way; ``WINNOW_MAX_BUCKET``
    drops stop-gram buckets (boilerplate shared by everything) before
    the quadratic pair step, the standard guard at corpus scale.
    """
    fp = winnow_fingerprints(docs).select("doc_id", "gram_hash").distinct()
    buckets = (
        fp.groupBy("gram_hash")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= WINNOW_MAX_BUCKET)
    )
    return (
        buckets.select(F.explode(_pairs_from_bucket(F.col("ids"))).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


# --- incremental dedup: new batch vs stored corpus state ------------
# The daily-drop workflow at 100 TB: a crawl batch (GBs) arrives, the
# corpus state (PBs, reduced to fingerprints/signatures) is already on
# disk — only the BATCH is hashed; the state side is a key-only scan.


def incremental_exact_dedup(
    batch: DataFrame, state_fingerprints: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (fresh, duplicate) against a stored
    fingerprint state, then dedup fresh in-batch (first id wins).

    ``state_fingerprints`` carries one column ``fingerprint`` (the
    canonical md5 identity of ``exact_duplicates``) — the only thing
    the warehouse must retain per historical doc. Both splits are
    anti/semi joins shuffled on the fingerprint; the batch is hashed
    once (cached upstream by the caller if both outputs are consumed).
    """
    fp = batch.withColumn("fingerprint", fingerprint(F.col("text")))
    state = state_fingerprints.select("fingerprint").distinct()
    dup = fp.join(state, "fingerprint", "left_semi")
    fresh = fp.join(state, "fingerprint", "left_anti")
    fresh = dedup_subset(fresh, ["fingerprint"], tiebreaker=["doc_id"])
    return fresh, dup


def incremental_minhash_candidates(
    batch: DataFrame, state_signatures: DataFrame, min_bands: int = 4
) -> DataFrame:
    """Near-dup candidates of a NEW batch against the stored corpus:
    (batch_doc_id, state_doc_id, bands_agree). Signatures are computed
    for the batch only; ``state_signatures`` is the persisted
    ``minhash_band_signatures`` output (doc_id, band, signature) —
    tiny relative to text (bands × 8 bytes per doc).

    Join is keyed (band, signature): exactly the LSH bucket equality,
    shuffled on the composite key, never quadratic in either side.
    """
    bsig = minhash_band_signatures(batch).select(
        F.col("doc_id").alias("batch_doc_id"), "band", "signature"
    )
    ssig = state_signatures.select(
        F.col("doc_id").alias("state_doc_id"), "band", "signature"
    )
    return (
        bsig.join(ssig, ["band", "signature"])
        .groupBy("batch_doc_id", "state_doc_id")
        .agg(F.count(F.lit(1)).alias("bands_agree"))
        .filter(F.col("bands_agree") >= min_bands)
    )


LEV_AFFIX_LEN = 16  # prefix / suffix block key length, in characters
LEV_MAX_BLOCK = 256  # docs per block above which the block is dropped


def levenshtein_block_pairs(
    docs: DataFrame,
    block_cols: tuple[str, ...] = ("lang", "source"),
    len_bucket: int = 64,
    max_rel_dist: float = 0.25,
) -> DataFrame:
    """Edit-distance near-duplicate pairs under multi-pass blocking:
    candidates share ``block_cols``, a character-length bucket
    (``floor(len/len_bucket)``), and — per pass — either the first or
    the last ``LEV_AFFIX_LEN`` characters; a pair survives when
    ``levenshtein(a, b) <= max_rel_dist * max(len(a), len(b))``.

    Complements the token-set detectors (minhash/simhash/Jaccard are
    blind to ordering; winnowing to small in-place edits): Levenshtein
    is the character-level ground truth the others approximate, and
    blocking is what keeps it tractable — each pass shuffles on its
    block key so the O(|a|·|b|) DP runs only inside blocks, never
    all-pairs. The affix keys are what make block size track TRUE
    duplicate groups instead of corpus size: (lang, source, length)
    alone puts every same-stratum same-length doc in one block, which
    goes quadratic as the corpus grows; prefix/suffix equality is
    sharply selective on natural text. Running BOTH passes and
    unioning the candidates means a pair escapes only when edited in
    the prefix AND the suffix — the standard multi-pass
    entity-resolution recall repair (single-affix recall holes close
    multiplicatively), with the residual miss (both-ends edits) being
    exactly the kind the token-set detectors catch instead. Precision
    is exact. Emits ``id_a < id_b, dist, rel_dist``.

    ``LEV_MAX_BLOCK`` drops blocks larger than that many docs before
    pairing — the same hot-bucket cap as ``MAX_DOC_FREQ`` /
    ``WINNOW_MAX_BUCKET`` in the shingle kit, bounding worst-case DP
    work per block to LEV_MAX_BLOCK²/2. A corpus whose duplicate GROUPS
    are genuinely huge (k near-identical copies ⇒ k²/2 true pairs — e.g.
    boilerplate cliques) hits this cap by construction; the capped
    blocks are observable the same way (count-by-key).
    """
    blocked = docs.select(
        F.col("doc_id"),
        F.col("text"),
        *[F.col(c) for c in block_cols],
        F.floor(F.length("text") / F.lit(len_bucket)).cast("bigint").alias("_lbucket"),
        F.expr(f"left(text, {LEV_AFFIX_LEN})").alias("_pre"),
        F.expr(f"right(text, {LEV_AFFIX_LEN})").alias("_suf"),
    )

    def pass_pairs(affix: str) -> DataFrame:
        keys = [*block_cols, "_lbucket", affix]
        w = Window.partitionBy(*keys)
        rows = blocked.withColumn("_bn", F.count(F.lit(1)).over(w)).filter(
            F.col("_bn") <= LEV_MAX_BLOCK
        )
        a = rows.select(
            *keys, F.col("doc_id").alias("id_a"), F.col("text").alias("_ta")
        )
        b = rows.select(
            *keys, F.col("doc_id").alias("id_b"), F.col("text").alias("_tb")
        )
        return (
            a.join(b, keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_ta", "_tb")
        )

    dist = F.levenshtein("_ta", "_tb")
    bound = F.lit(max_rel_dist) * F.greatest(F.length("_ta"), F.length("_tb"))

    def pass_result(affix: str) -> DataFrame:
        # distance + threshold INSIDE the pass: a pair caught by both
        # passes costs one redundant (cheap) DP, but the cross-pass
        # dedup then shuffles 4 scalar columns for the few survivors
        # instead of two full text payloads for every candidate —
        # the difference between a kB-scale and a GB-scale exchange
        # at corpus size
        return (
            pass_pairs(affix)
            .filter(dist <= bound)
            .select(
                "id_a",
                "id_b",
                dist.cast("bigint").alias("dist"),
                F.round(
                    dist / F.greatest(F.length("_ta"), F.length("_tb")), 4
                ).alias("rel_dist"),
            )
        )

    return (
        pass_result("_pre")
        .unionByName(pass_result("_suf"))
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): find MAXIMAL shared token spans
# of length >= min_span between document pairs — the signal behind
# substring-level dedup (memorized boilerplate, quoted passages,
# licence blocks) that whole-doc fingerprints and winnowed sketches
# both miss. The reference paper builds a suffix array; the
# distributed re-expression is k-gram anchoring + diagonal run
# consolidation, exact for every span >= k:
#
#   1. every token position contributes its k-gram (a string key —
#      JVM transform/slice/concat, no Python);
#   2. positions sharing a k-gram across two docs are candidate span
#      cells; a shared span of length L appears as L − k + 1
#      CONSECUTIVE cells on one diagonal (pos_a − pos_b constant);
#   3. consecutive-run islands per (pair, diagonal) — the classic
#      pos − row_number() grouping — reconstruct each maximal span
#      exactly: span_tokens = run_length + k − 1.
#
# Scale shape: the k-gram relation is token-stream-sized (the same
# cardinality every unigram pass already handles); the only fanout is
# the per-gram self-join, bounded by ``max_gram_freq`` (grams above
# the cap — stopword runs, template fragments — are dropped BEFORE
# the join, the winnowing inverted-index discipline; the cap is
# observable via substring_cap_report). Runs/spans aggregate on the
# (pair, diagonal) key — output-sized, never corpus-quadratic.


def _positioned_kgrams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): the k-token window starting at each 1-based
    position. Docs shorter than k tokens contribute nothing (guarded —
    Spark sequence() counts DOWN when start > stop)."""
    toks = docs.select(
        F.col("doc_id").alias("doc_id"),
        tokens(F.lower(F.col("text"))).alias("toks"),
    ).filter(F.size("toks") >= k)
    cells = F.transform(
        F.sequence(F.lit(1), F.size("toks") - k + 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice("toks", i, k)).alias("gram"),
        ),
    )
    return toks.select("doc_id", F.explode(cells).alias("c")).select(
        "doc_id", F.col("c.pos").alias("pos"), F.col("c.gram").alias("gram")
    )


def substring_span_pairs(
    docs: DataFrame,
    k: int = 6,
    min_span: int = 10,
    max_gram_freq: int = 50,
) -> DataFrame:
    """Per document pair: the maximal exact shared token spans.

    Returns (doc_a, doc_b, n_spans, longest_span, span_tokens) for
    every pair sharing at least one maximal span of >= ``min_span``
    tokens; doc_a < doc_b. Exact for all spans >= k whose anchor grams
    survive the ``max_gram_freq`` occurrence cap.
    """
    g = _positioned_kgrams(docs, k)
    kept = g.groupBy("gram").agg(F.count(F.lit(1)).alias("_n")).filter(
        F.col("_n") <= max_gram_freq
    )
    gk = g.join(kept.select("gram"), "gram")
    a = gk.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "gram"
    )
    b = gk.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "gram"
    )
    cells = a.join(b, "gram").filter(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        cells.select(
            "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
        )
        .withColumn("island", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).alias("span"))
        .filter(F.col("span") >= min_span)
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span").cast("bigint").alias("longest_span"),
        F.sum("span").cast("bigint").alias("span_tokens"),
    )


def substring_cap_report(
    docs: DataFrame,
    k: int = 6,
    max_gram_freq: int = 50,
) -> DataFrame:
    """1-row observability twin: how much the occurrence cap dropped.

    (n_grams, n_dropped_gram_types, n_dropped_occurrences) — nonzero
    drops mean template/stopword runs were excluded from span
    anchoring; raise ``max_gram_freq`` to trade fanout for recall."""
    g = _positioned_kgrams(docs, k)
    per = g.groupBy("gram").agg(F.count(F.lit(1)).alias("_n"))
    over = F.col("_n") > max_gram_freq
    return per.agg(
        F.sum("_n").cast("bigint").alias("n_grams"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias(
            "n_dropped_gram_types"
        ),
        F.sum(F.when(over, F.col("_n")).otherwise(0)).cast("bigint").alias(
            "n_dropped_occurrences"
        ),
    )
