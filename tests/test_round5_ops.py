"""Boundary semantics for the round-5 operator additions: overlapping
token chunking, blocked edit-distance near-dup, bigram stats, and the
conditional-aggregation relational family. Value-level oracle parity
runs in tools/compare.py; these pin the edge cases the hash gate's
aggregate view can't isolate."""

from __future__ import annotations

from pyspark.sql import functions as F

from emission_project_spark.extensions.curation import chunk_tokens
from emission_project_spark.extensions.dedup import levenshtein_block_pairs


def _toked(spark, rows):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    return df.select("doc_id", F.split("text", " ").alias("toks"))


class TestChunkTokens:
    def test_overlap_and_tail(self, spark):
        # 100 tokens, window 64 stride 48: starts 0/48/96 (every
        # stride while inside the array), tails short, never empty.
        text = " ".join(f"t{i}" for i in range(100))
        out = chunk_tokens(
            _toked(spark, [(1, text)]), "doc_id", "toks", window=64, stride=48
        ).collect()
        assert [(r.chunk_id, r.chunk_start, r.n_tokens) for r in out] == [
            (0, 0, 64),
            (1, 48, 52),
            (2, 96, 4),
        ]
        # overlap: chunk 1 starts 16 tokens before chunk 0 ends
        assert out[0].chunk_text.split(" ")[48:] == out[1].chunk_text.split(" ")[:16]

    def test_exact_window_multiple(self, spark):
        # n == window: one full chunk plus the overlap tail at stride
        text = " ".join(f"t{i}" for i in range(64))
        out = chunk_tokens(
            _toked(spark, [(1, text)]), "doc_id", "toks", window=64, stride=48
        ).collect()
        assert [(r.chunk_start, r.n_tokens) for r in out] == [(0, 64), (48, 16)]

    def test_short_doc_single_chunk(self, spark):
        out = chunk_tokens(
            _toked(spark, [(1, "a b c")]), "doc_id", "toks", window=64, stride=48
        ).collect()
        assert [(r.chunk_id, r.n_tokens, r.chunk_text) for r in out] == [(0, 3, "a b c")]

    def test_rejects_nonpositive(self, spark):
        import pytest

        with pytest.raises(ValueError):
            chunk_tokens(_toked(spark, [(1, "a")]), "doc_id", "toks", 0, 48)


class TestLevenshteinBlock:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string, source string"
        )

    def test_finds_small_edit_within_block(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 3
        edited = base.replace("lazy", "hazy", 1)
        docs = self._docs(spark, [(1, base, "en", "s"), (2, edited, "en", "s")])
        out = levenshtein_block_pairs(docs).collect()
        assert [(r.id_a, r.id_b, r.dist) for r in out] == [(1, 2, 1)]

    def test_blocking_excludes_cross_lang(self, spark):
        t = "identical text body " * 5
        docs = self._docs(spark, [(1, t, "en", "s"), (2, t, "zh", "s")])
        assert levenshtein_block_pairs(docs).count() == 0

    def test_prefix_edit_caught_by_suffix_pass(self, spark):
        # an edit INSIDE the 16-char prefix breaks the prefix block,
        # but the suffix pass recovers the pair (multi-pass recall)
        base = "the quick brown fox jumps over the lazy dog " * 3
        edited = "thX" + base[3:]
        docs = self._docs(spark, [(1, base, "en", "s"), (2, edited, "en", "s")])
        out = levenshtein_block_pairs(docs).collect()
        assert [(r.id_a, r.id_b, r.dist) for r in out] == [(1, 2, 1)]

    def test_both_end_edits_escape_blocking(self, spark):
        # edited at BOTH ends: the documented residual recall miss
        base = "the quick brown fox jumps over the lazy dog " * 3
        edited = "thX" + base[3:-4] + "dXg "
        docs = self._docs(spark, [(1, base, "en", "s"), (2, edited, "en", "s")])
        assert levenshtein_block_pairs(docs).count() == 0

    def test_threshold_excludes_distant(self, spark):
        a = "aaaa bbbb cccc dddd"
        b = "wwww xxxx yyyy zzzz"  # same length/block, dist ≈ len
        docs = self._docs(spark, [(1, a, "en", "s"), (2, b, "en", "s")])
        assert levenshtein_block_pairs(docs).count() == 0


class TestBigramsQuery:
    def test_single_token_docs_contribute_nothing(self, spark, tmp_path):
        # Registered query path at sf0.001 must not raise on the
        # guard (size >= 2): covered by smoke; here pin the pure
        # bigram formation on a tiny frame mirroring the plan.
        toked = spark.createDataFrame(
            [(["only"],), (["a", "b", "a", "b"],)], "toks: array<string>"
        ).filter(F.size("toks") >= 2)
        bigrams = toked.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + 1),
                    ),
                )
            ).alias("bigram")
        )
        counts = {r.bigram: r.n for r in bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {"a b": 2, "b a": 1}


class TestScd2:
    def _dim(self, spark):
        from emission_project_spark.operators.scd import scd2_init

        base = spark.createDataFrame(
            [(1, "A", 10.0), (2, "B", 20.0), (3, None, 30.0)],
            "k bigint, seg string, bal double",
        )
        return scd2_init(base, "2024-01-01")

    def _upd(self, spark, rows):
        return spark.createDataFrame(rows, "k bigint, seg string, bal double")

    def test_change_closes_and_reopens(self, spark):
        from emission_project_spark.operators.scd import scd2_apply

        out = scd2_apply(
            self._dim(spark),
            self._upd(spark, [(1, "A2", 10.0)]),
            "k", ["seg", "bal"], "2024-06-01",
        )
        k1 = sorted(
            ((r.seg, str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10], r.is_current)
             for r in out.filter(F.col("k") == 1).collect())
        )
        assert k1 == [
            ("A", "2024-01-01", "2024-06-01", False),
            ("A2", "2024-06-01", None, True),
        ]
        # untouched keys: single open version
        assert out.filter((F.col("k") == 2) & F.col("is_current")).count() == 1
        assert out.count() == 4

    def test_nullsafe_change_detection(self, spark):
        from emission_project_spark.operators.scd import scd2_apply

        # NULL -> value is a change; value -> same value is not
        out = scd2_apply(
            self._dim(spark),
            self._upd(spark, [(3, "C", 30.0), (2, "B", 20.0)]),
            "k", ["seg", "bal"], "2024-06-01",
        )
        assert out.filter(F.col("k") == 3).count() == 2       # closed + reopened
        assert out.filter(F.col("k") == 2).count() == 1       # no-op
        # replay idempotence: folding the same batch again changes nothing
        out2 = scd2_apply(
            out, self._upd(spark, [(3, "C", 30.0)]), "k", ["seg", "bal"], "2024-07-01"
        )
        assert out2.count() == out.count()

    def test_new_key_and_history_preserved(self, spark):
        from emission_project_spark.operators.scd import scd2_apply

        d1 = scd2_apply(
            self._dim(spark), self._upd(spark, [(1, "A2", 10.0)]),
            "k", ["seg", "bal"], "2024-06-01",
        )
        d2 = scd2_apply(
            d1, self._upd(spark, [(1, "A3", 10.0), (9, "NEW", 90.0)]),
            "k", ["seg", "bal"], "2024-09-01",
        )
        k1 = d2.filter(F.col("k") == 1)
        assert k1.count() == 3                                # full version chain
        assert k1.filter(F.col("is_current")).select("seg").first().seg == "A3"
        assert d2.filter((F.col("k") == 9) & F.col("is_current")).count() == 1

    def test_null_is_current_rows_pass_through_as_history(self, spark):
        from emission_project_spark.operators.scd import scd2_apply

        dim = spark.createDataFrame(
            [(1, "A", 10.0, None), (2, "B", 20.0, None), (2, "B1", 21.0, True)],
            "k bigint, seg string, bal double, is_current boolean",
        ).selectExpr(
            "k", "seg", "bal", "timestamp'2024-01-01' AS valid_from",
            "CAST(NULL AS timestamp) AS valid_to", "is_current",
        )
        out = scd2_apply(
            dim, self._upd(spark, [(1, "A2", 10.0), (2, "B2", 22.0)]),
            "k", ["seg", "bal"], "2024-06-01",
        )
        got = sorted(
            (r.k, r.seg, r.valid_to and str(r.valid_to)[:10], r.is_current)
            for r in out.collect()
        )
        assert got == [
            (1, "A", None, None),            # untouched, not closed
            (1, "A2", None, True),           # opened like a brand-new key
            (2, "B", None, None),            # untouched
            (2, "B1", "2024-06-01", False),  # the current version is closed
            (2, "B2", None, True),
        ]

    def test_as_of_slices_versions(self, spark):
        from emission_project_spark.operators.scd import scd2_apply, scd2_as_of

        d1 = scd2_apply(
            self._dim(spark), self._upd(spark, [(1, "A2", 10.0)]),
            "k", ["seg", "bal"], "2024-06-01",
        )
        assert scd2_as_of(d1, "2024-03-01").filter(F.col("k") == 1).first().seg == "A"
        assert scd2_as_of(d1, "2024-07-01").filter(F.col("k") == 1).first().seg == "A2"
        # exactly at the boundary the NEW version is current (valid_from <= ts)
        assert scd2_as_of(d1, "2024-06-01").filter(F.col("k") == 1).first().seg == "A2"


class TestMergeAggState:
    def test_merge_equals_recompute_and_rejects_empty(self, spark):
        import pytest

        from emission_project_spark.operators.incremental import merge_agg_state

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", -1.0), ("c", 0.0)],
            "k string, v double",
        )

        def partial(d):
            return d.groupBy("k").agg(
                F.sum("v").alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )

        # split so one group ('a') spans both sides and one ('c') is batch-only
        left = partial(df.filter(F.col("v") > 0.5))
        right = partial(df.filter(F.col("v") <= 0.5))
        merged = {
            r.k: (r.s, r.n, r.lo, r.hi)
            for r in merge_agg_state(
                left, right, ["k"], sums=["s", "n"], mins=["lo"], maxs=["hi"]
            ).collect()
        }
        full = {r.k: (r.s, r.n, r.lo, r.hi) for r in partial(df).collect()}
        assert merged == full

        with pytest.raises(ValueError):
            merge_agg_state(left, right, ["k"])


class TestDeterminismClaims:
    def test_weighted_sample_partitioning_invariance(self, spark, sf_dir):
        """The A-ES sample must be identical regardless of physical
        partitioning — the auditability claim hash-seeding buys."""
        from emission_project_spark.plans.extensions import curation_weighted_sample

        base = curation_weighted_sample(spark, sf_dir)
        ids = sorted(r.doc_id for r in base.collect())
        # perturb the physical plan via shuffle-partition count
        for nparts in (1, 7):
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
            try:
                again = sorted(
                    r.doc_id for r in curation_weighted_sample(spark, sf_dir).collect()
                )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            assert again == ids

    def test_split_stable_under_incremental_ingest(self, spark):
        """A doc's train/val/test split never changes when new docs
        arrive — the md5 bucket depends only on doc_id."""
        from pyspark.sql import functions as F

        def split_of(df):
            bucket = (
                F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
                .cast("bigint") % 100
            )
            s = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
            return {r.doc_id: r.split for r in df.select("doc_id", s.alias("split")).collect()}

        first = spark.range(0, 50).select(F.col("id").alias("doc_id"))
        grown = spark.range(0, 500).select(F.col("id").alias("doc_id"))
        s1, s2 = split_of(first), split_of(grown)
        assert all(s2[k] == v for k, v in s1.items())
        # and the 80/10/10 shape emerges at corpus size
        from collections import Counter

        c = Counter(s2.values())
        assert c["train"] > c["val"] and c["train"] > c["test"]


class TestWarehouseOps:
    def test_read_merged_schema_after_evolution(self, spark, tmp_path):
        from emission_project_spark.sources.warehouse import Warehouse

        wh = Warehouse(spark, str(tmp_path / "wh"))
        wh.append(spark.createDataFrame([(1, "a")], "id bigint, v string"), "t")
        wh.append(
            spark.createDataFrame([(2, "b", 9.5)], "id bigint, v string, score double"),
            "t",
        )
        merged = wh.read_merged_schema("t")
        assert set(merged.columns) == {"id", "v", "score"}
        rows = {r.id: r.score for r in merged.collect()}
        assert rows == {1: None, 2: 9.5}          # old files surface NULL


class TestApplyCdc:
    def test_last_op_per_key_wins(self, spark):
        from emission_project_spark.operators.incremental import apply_cdc

        existing = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
        )
        changes = spark.createDataFrame(
            [
                (1, "x", "u", 1), (1, None, "d", 2),      # upsert then delete → gone
                (2, None, "d", 1), (2, "b2", "u", 2),     # delete then upsert → b2
                (4, "new", "u", 1),                        # fresh key
            ],
            "k bigint, v string, op string, seq bigint",
        )
        out = {r.k: r.v for r in apply_cdc(existing, changes, ["k"], "seq").collect()}
        assert out == {2: "b2", 3: "c", 4: "new"}
        # replay: same batch over the result is a no-op
        again = {
            r.k: r.v
            for r in apply_cdc(
                spark.createDataFrame(list(out.items()), "k bigint, v string"),
                changes, ["k"], "seq",
            ).collect()
        }
        assert again == out
