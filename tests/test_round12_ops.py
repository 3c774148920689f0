"""Round-12 behavior pins: memo hardening (round-11 ADVICE), the
distance-table codegen kernel, and the streaming bench leg's helper.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_memo_collision_falls_back_to_fresh_build(spark, sf_dir):
    """A 32-bit semanticHash collision must NOT serve the wrong cached
    relation: on a key hit whose stored input plan is NOT
    semantically equal, _hq_memoized must rebuild (round-11 ADVICE).
    Simulated by planting a cache entry under the new input's key with
    a DIFFERENT stored input plan and a poisoned cached relation."""
    from ntripmonitor_spark.operators import stats
    from ntripmonitor_spark.tables import table

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    other = table(spark, sf_dir, "documents")  # different plan
    key = ("cum", id(ev.sparkSession), ev.semanticHash(), "value", "event_type", 128)
    poisoned = other.limit(1)
    stats._HQ_MEMO[key] = (other, poisoned)
    try:
        got = stats.hq_cum(table(spark, sf_dir, "events"))
        assert got is not poisoned, "collision served the wrong relation"
        # and the result is the real cum relation, not the poison
        assert "cum" in got.columns and "n_total" in got.columns
    finally:
        stats._HQ_MEMO.pop(key, None)


def test_memo_rearms_persist_after_clearcache(spark, sf_dir):
    """catalog.clearCache() (callers drain cached state between runs) strips
    the persist marker from the memoized relation; the next hit must
    re-arm it so multi-consumer plans keep their one-scan shape."""
    from ntripmonitor_spark.operators.stats import clear_hq_memo, hq_cum
    from ntripmonitor_spark.tables import table

    clear_hq_memo()
    ev = table(spark, sf_dir, "events")
    rel = hq_cum(ev)
    rel.count()
    assert rel.storageLevel.useMemory or rel.storageLevel.useDisk
    spark.catalog.clearCache()
    assert not (rel.storageLevel.useMemory or rel.storageLevel.useDisk)
    rel2 = hq_cum(table(spark, sf_dir, "events"))
    assert rel2 is rel
    assert rel2.storageLevel.useMemory or rel2.storageLevel.useDisk
    clear_hq_memo()


def test_clear_hq_memo_unpersists_and_empties(spark, sf_dir):
    """clear_hq_memo must unpersist every cached relation and empty the
    memo (round-11 ADVICE: the memo never evicted, so cross-sf sweeps
    accumulated corpus-sized persisted blocks for the process)."""
    from ntripmonitor_spark.operators import stats
    from ntripmonitor_spark.tables import table

    stats.clear_hq_memo()
    rel = stats.hq_cum(table(spark, sf_dir, "events"))
    rel.count()
    assert stats._HQ_MEMO
    stats.clear_hq_memo()
    assert not stats._HQ_MEMO
    assert not (rel.storageLevel.useMemory or rel.storageLevel.useDisk)


def test_dist_table_matches_unrolled_form(spark):
    """The one-lambda transform kernel must emit the exact values of
    the k-unrolled aggregate form it replaced (same element order,
    same IEEE chain — the codegen shrink must be value-invisible)."""
    from ntripmonitor_spark.operators.simsearch import _dist_table, _seed_dists

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0],), ([0.5, -1.0, 4.0],)], "v array<double>"
    )
    seeds = [(0, [0.0, 0.0, 0.0]), (1, [1.0, 2.0, 3.0]), (2, [-1.0, 5.0, 0.25])]
    got = df.select(_seed_dists(F.col("v"), seeds).alias("d")).collect()
    # unrolled reference computed in python with identical op order
    import math

    for row, vec in zip(got, [[1.0, 2.0, 3.0], [0.5, -1.0, 4.0]]):
        for j, (_, s) in enumerate(seeds):
            acc = 0.0
            for a, b in zip(vec, s):
                acc = acc + (a - b) * (a - b)
            want = math.floor(acc * 10**6 + 0.5) / 10**6 if acc >= 0 else acc
            assert abs(row["d"][j] - round(acc, 6)) < 1e-12


def test_sub_codebook_slices_subspace_major(spark):
    """_sub_codebook(seeds, s, d) must carry subspace s's sub-vectors
    in seed order — the ADC digit indexing depends on it."""
    from ntripmonitor_spark.operators.simsearch import _sub_codebook

    seeds = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [5.0, 6.0, 7.0, 8.0])]
    df = spark.range(1)
    row = df.select(_sub_codebook(seeds, 1, 2).alias("cb")).collect()[0]
    assert row["cb"] == [[3.0, 4.0], [7.0, 8.0]]


def test_fastlit_arrays_bit_identical_to_per_element_lit(spark):
    """The one-py4j-call literal builders must produce the exact
    doubles/longs of the per-element F.lit path they replaced —
    including awkward reprs (subnormal-ish exponents, -0.0, shortest
    round-trip tails) and 63-bit longs."""
    from ntripmonitor_spark.functions.fastlit import (
        double_array_lit, double_matrix_lit, long_array_lit,
    )

    doubles = [0.1, -0.0, 1e-300, -2.5e-07, 3.141592653589793,
               1.7976931348623157e308, 5e-324, 123456789.123456789]
    df = spark.range(1)
    got = df.select(double_array_lit(doubles).alias("a")).collect()[0]["a"]
    want = df.select(F.array(*[F.lit(x) for x in doubles]).alias("a")).collect()[0]["a"]
    assert [repr(x) for x in got] == [repr(x) for x in want]

    rows = [doubles[:4], doubles[4:]]
    gotm = df.select(double_matrix_lit(rows).alias("m")).collect()[0]["m"]
    wantm = df.select(
        F.array(*[F.array(*[F.lit(x) for x in r]) for r in rows]).alias("m")
    ).collect()[0]["m"]
    assert [[repr(x) for x in r] for r in gotm] == [[repr(x) for x in r] for r in wantm]

    longs = [0, -1, 2**62, -(2**63), 2**63 - 1, 42]
    gotl = df.select(long_array_lit(longs).alias("l")).collect()[0]["l"]
    assert gotl == longs


def test_py_dist_table_matches_jvm_kernel(spark, sf_dir):
    """The driver-side Python distance-table replica (round-12: query-
    side PQ/IVF constants computed in Python) must be bit-identical to
    the JVM _dist_table expression on real embedding data."""
    from ntripmonitor_spark.operators.simsearch import (
        _collect_seed_vectors, _dist_table, _py_dist_table, _seed_dists,
        as_double_vec,
    )
    from ntripmonitor_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    seeds = _collect_seed_vectors(emb, 8)
    v = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    jvm = {
        int(r["vec_id"]): [float(x) for x in r["d"]]
        for r in v.filter(F.col("vec_id") < 10)
        .select("vec_id", _seed_dists(F.col("v"), seeds).alias("d"))
        .collect()
    }
    raw = {
        int(r["vec_id"]): [float(x) for x in r["v"]]
        for r in v.filter(F.col("vec_id") < 10).collect()
    }
    codebook = [sv for _, sv in seeds]
    for qid, vec in raw.items():
        assert _py_dist_table(vec, codebook) == jvm[qid], f"q{qid} diverged"


def test_seed_and_query_collect_consistent(spark, sf_dir):
    """The fused seed+query collect must reproduce _collect_seed_vectors
    exactly and cover every query id below n_queries."""
    from ntripmonitor_spark.operators.simsearch import (
        _collect_seed_and_query_vectors, _collect_seed_vectors,
    )
    from ntripmonitor_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    seeds, queries = _collect_seed_and_query_vectors(emb, 4, 10)
    assert seeds == _collect_seed_vectors(emb, 4)
    n = emb.filter(F.col("vec_id") < 10).count()
    assert len(queries) == n
    assert all(qid < 10 for qid in queries)
