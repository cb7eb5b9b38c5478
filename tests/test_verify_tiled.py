"""Round-6 optimization parity: the block-tiled verify strategy and the
inline plain-bucket pair expansion must be VALUE-IDENTICAL to the
classic forms they replaced (operators/verify.py, operators/lsh.py).

The flagship's oracle status rests on these operators producing the
exact same edge set and candidate set as before the physical rework —
these tests pin that equivalence on adversarial fixtures (mixed sketch
levels, corrupt rows, missing endpoints, empty sketches, salted
buckets), not just the happy path.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from photo_dedup_spark.functions.signatures import sketch_to_bytes
from photo_dedup_spark.operators import lsh
from photo_dedup_spark.operators.verify import verify_pairs


def _mixed_docs(spark, n_docs=40, seed=11):
    """Signature rows with mixed levels, an empty sketch, a corrupt
    sketch, a null sketch, and a null simhash."""
    rng = np.random.RandomState(seed)
    rows = []
    for doc_id in range(1, n_docs + 1):
        lvl = int(rng.randint(0, 3))
        size = int(rng.randint(0, 60))
        vals = np.unique(
            rng.randint(0, 1 << (62 - lvl), size=size).astype(np.uint64)
        )
        raw = bytearray(sketch_to_bytes(np.sort(vals).view(np.int64)))
        sim = [int(x) for x in rng.randint(-(2**62), 2**62, size=4)]
        rows.append((doc_id, raw, lvl, sim))
    rows.append((97, bytearray(b"xyz"), 0, [1, 2, 3, 4]))  # corrupt sketch
    rows.append((98, None, 0, [1, 2, 3, 4]))  # null sketch
    rows.append((96, bytearray(sketch_to_bytes(np.array([], dtype=np.int64))), 0, None))  # null simhash
    return spark.createDataFrame(
        rows, "doc_id long, sketch binary, sketch_b int, simhash array<bigint>"
    )


class TestTiledVerifyParity:
    def test_tiled_matches_classic_exactly(self, spark, cfg):
        docs = _mixed_docs(spark)
        all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
        pair_rows = [
            (a, b) for i, a in enumerate(all_ids) for b in all_ids[i + 1 :][:9]
        ]
        pair_rows += [(1, 12345), (54321, 2)]  # endpoints with no signature row
        pairs = spark.createDataFrame(pair_rows, "src long, dst long")

        classic = {
            (r.src, r.dst): (r.jaccard, r.containment, r.hamming, r.is_edge)
            for r in verify_pairs(pairs, docs, cfg).collect()
        }
        for nb in (2, 4, 16):
            tiled = {
                (r.src, r.dst): (r.jaccard, r.containment, r.hamming, r.is_edge)
                for r in verify_pairs(
                    pairs, docs, cfg, tile_blocks=nb, num_partitions=8
                ).collect()
            }
            assert tiled == classic, f"nb={nb}"
        # pairs with missing endpoints are dropped (inner-join contract)
        assert (1, 12345) not in classic and (54321, 2) not in classic

    def test_tiled_failure_counter(self, spark, cfg):
        docs = _mixed_docs(spark)
        acc_c = spark.sparkContext.accumulator(0)
        acc_t = spark.sparkContext.accumulator(0)
        pairs = spark.createDataFrame(
            [(1, 97), (98, 2), (1, 2)], "src long, dst long"
        )
        verify_pairs(pairs, docs, cfg, failure_counter=acc_c).collect()
        verify_pairs(
            pairs, docs, cfg, failure_counter=acc_t, tile_blocks=4
        ).collect()
        assert acc_t.value == acc_c.value == 2

    def test_tiled_both_empty_exact_is_edge(self, spark, cfg):
        empty = bytearray(sketch_to_bytes(np.array([], dtype=np.int64)))
        docs = spark.createDataFrame(
            [(1, empty, 0, [0, 0, 0, 0]), (2, empty, 0, [0, 0, 0, 0])],
            "doc_id long, sketch binary, sketch_b int, simhash array<bigint>",
        )
        pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
        for kwargs in ({}, {"tile_blocks": 2}):
            out = verify_pairs(pairs, docs, cfg, **kwargs).collect()
            assert len(out) == 1
            assert out[0].jaccard == 1.0 and out[0].containment == 1.0
            assert out[0].is_edge is True and out[0].hamming == 0


class TestInlinePairExpansion:
    def _banded(self, spark, seed=3):
        """Bucket table exercising plain, salted (> salt_threshold=8)
        and overflow (> 200) routes under the test config."""
        rng = np.random.RandomState(seed)
        rows = []
        # plain buckets of size 2..8
        for b in range(30):
            members = rng.choice(10_000, size=int(rng.randint(2, 9)), replace=False)
            for m in members:
                rows.append((b % 5, int(b), int(m)))
        # salted bucket (size 40 > salt_threshold=8)
        for m in rng.choice(10_000, size=40, replace=False):
            rows.append((7, 777, int(m)))
        # overflow bucket (size 250 > bucket_overflow_cap=200) — dropped
        for m in rng.choice(10_000, size=250, replace=False):
            rows.append((9, 999, int(m)))
        # singletons
        for b in range(50):
            rows.append((11, 5000 + b, int(rng.randint(0, 10_000))))
        return spark.createDataFrame(rows, "band_id int, band_hash long, doc_id long")

    def test_pair_set_matches_bruteforce(self, spark, cfg):
        banded = self._banded(spark)
        pairs, routed = lsh.candidate_pairs(banded, cfg, num_partitions=8)
        got = {(r.src, r.dst) for r in pairs.collect()}
        # brute-force expected set from the raw bucket table
        rows = banded.collect()
        buckets: dict = {}
        for r in rows:
            buckets.setdefault((r.band_id, r.band_hash), set()).add(r.doc_id)
        expected = set()
        for members in buckets.values():
            if 2 <= len(members) <= cfg.bucket_overflow_cap:
                ms = sorted(members)
                for i in range(len(ms)):
                    for j in range(i + 1, len(ms)):
                        expected.add((ms[i], ms[j]))
        assert got == expected
        # routing census unchanged
        routes = {
            (r.band_id, r.band_hash): r.route
            for r in routed.collect()
            if r.route != "singleton"
        }
        assert routes[(7, 777)] == "salted"
        assert routes[(9, 999)] == "overflow"
        assert all(v == "plain" for k, v in routes.items() if k[1] < 100)


class TestPairOverlapCounts:
    """The JVM gram-set overlap counter against a Python brute force
    ``len(set(a) & set(b))``, with the set table broadcast and with
    broadcasts off (both endpoint joins shuffled)."""

    SETS = {
        1: ["a b c", "b c d", "c d e", "d e f"],
        2: ["b c d", "c d e", "x y z"],
        3: ["p q r", "q r s"],  # disjoint from 1 and 2
        4: ["a b c"],  # single-gram set
        5: ["a b c", "b c d", "c d e", "d e f", "e f g"],
    }
    PAIRS = [
        (1, 2), (1, 2), (1, 2),  # duplicates: one output row
        (1, 3), (2, 3),  # disjoint: inter_cnt 0 is emitted
        (1, 4), (4, 5), (3, 4),  # single-gram set
        (1, 5), (2, 5),
        (1, 99), (98, 2),  # endpoint without a set row: dropped
    ]

    def _frames(self, spark):
        sets = spark.createDataFrame(
            list(self.SETS.items()), "doc_id long, grams array<string>"
        )
        pairs = spark.createDataFrame(self.PAIRS, "src long, dst long")
        return pairs, sets

    def _expected(self):
        return {
            (s, d): len(set(self.SETS[s]) & set(self.SETS[d]))
            for s, d in self.PAIRS
            if s in self.SETS and d in self.SETS
        }

    @pytest.mark.parametrize(
        "threshold, join", [(None, "BroadcastHashJoin"), ("-1", "SortMergeJoin")]
    )
    def test_matches_bruteforce(self, spark, threshold, join):
        from photo_dedup_spark.operators.verify import pair_overlap_counts

        pairs, sets = self._frames(spark)
        key = "spark.sql.autoBroadcastJoinThreshold"
        saved = spark.conf.get(key)
        if threshold is not None:
            spark.conf.set(key, threshold)
        try:
            out = pair_overlap_counts(pairs, sets)
            rows = out.collect()
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(key, saved)
        assert join in plan
        got = [(r.src, r.dst, r.inter_cnt) for r in rows]
        assert len(got) == len({(s, d) for s, d, _ in got}), "pairs not deduped"
        assert {(s, d): c for s, d, c in got} == self._expected()
        assert (1, 3, 0) in got and (4, 5, 1) in got
