"""Semantic parity tests for candidate_ranker, mirroring the
reference's own pipeline assertions:

- self-match faiss distance ≈ 0 when queries == candidates
  (DeezyMatch/tests/test_pipeline_ngram.py:102-105)
- faiss results invariant to calc_predict
  (tests/test_pipeline_one_col_input.py:156-170)
- length_diff respected on normalized lengths
  (tests/test_pipeline_one_col_input.py:176-199)
- dedup by candidate original spelling keeps best-ranked
  (candidateRanker.py:483-492)
- threshold validation errors (candidateRanker.py:267-295)
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deezymatch_spark.operators.ranker import candidate_ranker, validate_ranker_args


def _emb_table(spark, keys, seed=0, dim=8, dup_of=None):
    rng = np.random.Generator(np.random.Philox(seed))
    rows = []
    vecs = {}
    for i, k in enumerate(keys):
        base = dup_of.get(k, k) if dup_of else k
        if base not in vecs:
            vecs[base] = rng.standard_normal(dim).astype(np.float32)
        rows.append((i, k, k.lower().strip(), [float(x) for x in vecs[base]]))
    return spark.createDataFrame(
        rows, "id long, key string, key_norm string, vec array<float>"
    )


def test_self_match_distance_zero(spark):
    keys = ["london", "paris", "berlin", "tokyo"]
    t = _emb_table(spark, keys)
    out = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=100.0, num_candidates=2
    )
    rows = {(r.query_id, r.rank): r for r in out.collect()}
    for q in range(len(keys)):
        top = rows[(q, 1)]
        assert top.candidate_id == q
        assert abs(top.faiss_dist) < 1e-9


def test_faiss_invariant_to_calc_predict(spark):
    t = _emb_table(spark, ["aa", "ab", "bb", "cc"])
    base = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=50.0, num_candidates=3
    ).select("query_id", "rank", "candidate_id", "faiss_dist")
    scorer = lambda a, b: F.lit(0.9)  # stand-in model scorer
    withp = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=50.0, num_candidates=3,
        calc_predict=True, pair_scorer=scorer,
    ).select("query_id", "rank", "candidate_id", "faiss_dist")
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, withp.collect()))


def test_length_diff_filter_on_normalized(spark):
    keys = ["abc", "abcdefghij", "abcd"]
    t = _emb_table(spark, keys)
    out = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=1e9,
        num_candidates=10, length_diff=2,
    )
    for r in out.collect():
        assert abs(len(keys[r.query_id]) - len(keys[r.candidate_id])) <= 2


def test_dedup_keeps_best_ranked_per_original_spelling(spark):
    # two candidate rows with the same ORIGINAL spelling but different
    # vectors: only the better-ranked one survives per query
    q = _emb_table(spark, ["london"])
    rows = [
        (0, "london", "london", [0.0] * 4),
        (1, "london", "london", [10.0] * 4),  # same orig spelling, worse
        (2, "paris", "paris", [1.0] * 4),
    ]
    c = spark.createDataFrame(rows, "id long, key string, key_norm string, vec array<float>")
    qq = spark.createDataFrame(
        [(0, "london", "london", [0.0] * 4)],
        "id long, key string, key_norm string, vec array<float>",
    )
    out = candidate_ranker(
        qq, c, ranking_metric="faiss", selection_threshold=1e9, num_candidates=10
    ).collect()
    ids = [r.candidate_id for r in out]
    assert 0 in ids and 1 not in ids and 2 in ids


def test_conf_metric_orders_by_match_desc(spark):
    t = _emb_table(spark, ["aa", "ab", "zz"])
    scorer = lambda a, b: F.when(a == b, 1.0).otherwise(
        F.lit(1.0) / (F.abs(F.length(a) - F.length(b)) + F.levenshtein(a, b) + 1)
    )
    out = candidate_ranker(
        t, t, ranking_metric="conf", selection_threshold=0.0,
        num_candidates=3, pair_scorer=scorer,
    ).collect()
    for r in out:
        if r.rank == 1:
            assert r.candidate_id == r.query_id  # self has conf 1.0


def test_threshold_validation():
    with pytest.raises(ValueError):
        validate_ranker_args("faiss", -1.0)
    with pytest.raises(ValueError):
        validate_ranker_args("cosine", 1.5)
    with pytest.raises(ValueError):
        validate_ranker_args("nope", 0.5)
    validate_ranker_args("faiss", 3.0)
    validate_ranker_args("conf", 0.5)


def test_conf_requires_scorer(spark):
    t = _emb_table(spark, ["aa"])
    with pytest.raises(ValueError):
        candidate_ranker(
            t, t, ranking_metric="conf", selection_threshold=0.5
        )


def test_num_all_searches_compat(spark):
    """k grows by search_size until num_candidates found; capped at |C|
    (candidateRanker.py:381-398,501-510)."""
    keys = [f"k{i}" for i in range(10)]
    t = _emb_table(spark, keys)
    out = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=1e9,
        num_candidates=3, search_size=2,
    ).collect()
    for r in out:
        assert r.num_all_searches == 4  # 3rd passing candidate in batch 2
    out2 = candidate_ranker(
        t, t, ranking_metric="faiss", selection_threshold=1e9,
        num_candidates=100, search_size=3,
    ).collect()
    for r in out2:
        assert r.num_all_searches == 10  # exhausted: capped at |C|


def _counting_scorer(spark):
    """→ (accumulator, scorer UDF, value fn): an Arrow UDF scorer that
    adds every batch's length to the accumulator; its score is
    ``value(a, b)``, a deterministic function of the pair (defined in
    here so it pickles by value to the workers)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    seen = spark.sparkContext.accumulator(0)

    def value(a, b):
        import zlib

        return zlib.crc32(f"{a}|{b}".encode()) % 10007 / 10007

    @pandas_udf("double")
    def score(a: pd.Series, b: pd.Series) -> pd.Series:
        seen.add(len(a))
        return pd.Series([value(x, y) for x, y in zip(a, b)])

    return seen, score, value


@pytest.mark.parametrize("metric", ["faiss", "cosine"])
def test_dl_match_scored_after_top_k(spark, metric):
    keys = [f"key{i:02d}" for i in range(12)]
    t = _emb_table(spark, keys)
    q = t.where(F.col("id") < 5)
    seen, scorer, value = _counting_scorer(spark)
    k = 3
    out = candidate_ranker(
        q, t, ranking_metric=metric,
        selection_threshold=1e9 if metric == "faiss" else 1.0,
        num_candidates=k, calc_predict=True, pair_scorer=scorer,
    ).collect()
    assert {r.query_id for r in out} == set(range(5))
    # the scorer saw only the emitted rows, not the 5 x 12 cross join
    assert seen.value == len(out) <= 5 * k
    for r in out:
        assert r.dl_match == value(r.query, r.candidate)


def test_conf_ranks_by_scorer_over_every_pair(spark):
    keys = [f"key{i:02d}" for i in range(12)]
    t = _emb_table(spark, keys)
    q = t.where(F.col("id") < 5)
    seen, scorer, value = _counting_scorer(spark)
    out = candidate_ranker(
        q, t, ranking_metric="conf", selection_threshold=0.0,
        num_candidates=3, pair_scorer=scorer,
    ).collect()
    assert seen.value >= 5 * 12  # conf ranks by dl_match: every pair scored
    by_q = {}
    for r in out:
        assert r.dl_match == value(r.query, r.candidate)
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        best = sorted((value(keys[qid], c) for c in keys), reverse=True)[:3]
        assert [r.dl_match for r in rs] == best
