"""The benchmark's workloads. Each is driven by one closed-loop client
(the next operation starts when the previous one returned) and calls
only the library's public functions.

A workload provides:

- ``prepare(ctx)`` — one set-up repetition: seeded inputs to Parquet,
  plus the model, store or bootstrap state the operation needs;
- ``warmup(ctx)`` — untimed operations until Python workers, JIT and
  caches are warm;
- ``op(ctx)`` — one timed operation, returning ``[(seconds, items)]``
  samples; output checks record failures on ``ctx``;
- ``quality(ctx)`` — deterministic quality figures, computed untimed;
- ``traced(ctx, tracer)`` — one operation with spans at each layer
  boundary, returning per-layer counts.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs

# ER parameters: the library defaults of pipeline.er_stages, repeated
# here because the traced batch run drives the stages one by one
JW_THRESHOLD = 0.82
LEV_MAX = 2
MAX_BLOCK_SIZE = 100
NGRAM = 3

SIZES = {
    "full": dict(
        er_pages=8000,
        pair_pages=2000,
        train_pages=800,
        train_epochs=3,
        store_pages=4000,
        rank_queries=8,
        inc_pages=2000,
        inc_delta_pages=50,
        inc_deltas=3,
        inc_deletes=20,
    ),
    "smoke": dict(
        er_pages=400,
        pair_pages=200,
        train_pages=200,
        train_epochs=1,
        store_pages=400,
        rank_queries=4,
        inc_pages=400,
        inc_delta_pages=20,
        inc_deltas=1,
        inc_deletes=10,
    ),
}

FILES = 8  # Parquet files per input table
QUALITY_QUERIES = 128  # ranker queries scored for hit@10
# quality gates: a run below one is not correct (the north rule asks
# F1 >= 0.99 of the ER job)
MIN_BCUBED_F1 = 0.99
MIN_BLOCKING_RECALL = 0.99
MIN_HIT_AT_10 = 0.9


class Ctx:
    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.sizes = SIZES[size]
        self.data = os.path.join(work, "data")
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failures.append(what)
        return ok


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _bcubed_f1(clusters, truth) -> float:
    """B-cubed F1 of the emitted entity_id against the generator's
    cluster_id, in exact integer micro-units (order-independent)."""
    from deezymatch_spark.operators.metrics import bcubed

    df = clusters.join(truth, "url").select(
        F.col("url").alias("id"),
        F.col("entity_id").alias("pred"),
        F.col("cluster_id").alias("truth"),
    )
    return bcubed(df, scaled=True).collect()[0]["f1_micro"] / 1e6


def _check_assignment(ctx: Ctx, clusters, expected_urls: int, what: str) -> None:
    """Every url of the corpus is assigned exactly once."""
    row = clusters.agg(
        F.count("*").alias("n"),
        F.countDistinct("url").alias("urls"),
        F.sum(F.col("entity_id").isNull().cast("int")).alias("nulls"),
    ).collect()[0]
    ctx.check(
        row.n == expected_urls and row.urls == expected_urls and not row.nulls,
        f"{what}: {row.n} rows, {row.urls} distinct urls, {row.nulls} null ids; "
        f"expected {expected_urls}",
    )


# ------------------------------------------------------------- batch_er


class BatchER:
    """``pipeline.run_er_pipeline`` over a Parquet scan of synthetic
    pages: extract, NFKD normalize, blocking, JW scoring, CC."""

    name = "batch_er"
    traced_span = "pipeline.er"  # the span timed against an untraced operation
    # the workload's own name for each generic metric, as the report prints it
    labels = {"throughput_per_s": "er_pages_per_s", "latency_p50_ms": "run_p50_ms",
              "latency_tail_ms": "run_tail_ms", "quality": "bcubed_f1"}
    min_ops = 5
    setup_reps = 3

    def prepare(self, ctx: Ctx, tr) -> None:
        n = ctx.sizes["er_pages"]
        df = inputs.page_rows(ctx.seed, 0, n)
        self.n = n
        self.pages_path = os.path.join(ctx.data, "er_pages")
        shutil.rmtree(self.pages_path, ignore_errors=True)
        inputs.write_pages(df, self.pages_path, FILES)
        self.truth = ctx.spark.createDataFrame(df[["url", "cluster_id"]]).cache()
        self.truth.count()

    def _pages(self, ctx: Ctx):
        return ctx.spark.read.parquet(self.pages_path)

    def _run(self, ctx: Ctx):
        from deezymatch_spark.pipeline import run_er_pipeline

        # data-cold, JIT-warm: the pipeline persists frames, and Spark's
        # CacheManager would substitute them into the next identical plan
        ctx.spark.catalog.clearCache()
        self.truth.cache()
        clusters = run_er_pipeline(ctx.spark, pages=self._pages(ctx))
        rows = clusters.collect()
        return clusters, rows

    def warmup(self, ctx: Ctx) -> None:
        # the JIT keeps tiering up over the first runs: two untimed runs
        # leave the measured ones level
        for _ in range(2):
            self._run(ctx)

    def op(self, ctx: Ctx):
        secs, (_, rows) = _timed(lambda: self._run(ctx))
        urls = [r.url for r in rows]
        ctx.check(
            len(urls) == self.n and len(set(urls)) == self.n
            and all(r.entity_id is not None for r in rows),
            f"batch_er: {len(urls)} rows / {len(set(urls))} urls for {self.n} pages",
        )
        self.last_rows = rows
        return [(secs, self.n)]

    def quality(self, ctx: Ctx) -> dict:
        clusters = ctx.spark.createDataFrame(
            [(r.url, r.entity_id) for r in self.last_rows], "url string, entity_id long"
        )
        f1 = _bcubed_f1(clusters, self.truth)
        ctx.check(f1 >= MIN_BCUBED_F1, f"batch_er: B-cubed F1 {f1} below {MIN_BCUBED_F1}")
        return {"bcubed_f1": f1}

    def traced(self, ctx: Ctx, tr) -> dict:
        """The pipeline's stages driven one by one through the same
        public functions, each stage forced to execute inside its span."""
        from deezymatch_spark.functions.udfs import jaro_winkler_udf, normalize_udf
        from deezymatch_spark.operators.blocking import (
            release_persisted,
            scored_candidate_pairs,
        )
        from deezymatch_spark.operators.cc import connected_components
        from deezymatch_spark.sources.pages import extract_title

        ctx.spark.catalog.clearCache()
        self.truth.cache()
        out = {}
        with tr.span("pipeline.er"):
            with tr.span("functions.udfs.normalize"):
                docs = self._pages(ctx).select(
                    F.xxhash64("url").alias("id"),
                    "url",
                    extract_title(F.col("html")).alias("title"),
                ).withColumn("title_norm", normalize_udf(F.col("title"))).persist()
                out["functions.udfs.normalize_rows"] = docs.count()
            with tr.span("operators.blocking.scored_candidate_pairs"):
                raw = scored_candidate_pairs(
                    docs, "id", "title_norm", lev_max=LEV_MAX,
                    max_block_size=MAX_BLOCK_SIZE, ngram=NGRAM,
                )
                gated = raw.persist()
                out["operators.blocking.pairs_out"] = gated.count()
            with tr.span("functions.udfs.jaro_winkler"):
                matches = (
                    gated.withColumn("jw", jaro_winkler_udf(F.col("t1"), F.col("t2")))
                    .where(F.col("jw") >= JW_THRESHOLD)
                    .select("id1", "id2", "jw")
                    .persist()
                )
                out["functions.udfs.jw_pairs_in"] = out["operators.blocking.pairs_out"]
                out["pipeline.matches_out"] = matches.count()
            with tr.span("operators.cc.connected_components"):
                edges = matches.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
                comps = connected_components(edges).persist()
                out["operators.cc.edges_in"] = out["pipeline.matches_out"]
                out["operators.cc.components_out"] = comps.select("component").distinct().count()
            with tr.span("pipeline.assign"):
                rows = (
                    docs.join(comps, docs.id == comps.node, "left")
                    .select("url", F.coalesce("component", "id").alias("entity_id"))
                    .collect()
                )
        ctx.check(len(rows) == self.n, f"batch_er traced: {len(rows)} rows for {self.n} pages")
        out.update(self._fold(ctx, tr, edges, comps))
        recall = self._blocking_recall(gated)
        ctx.check(recall >= MIN_BLOCKING_RECALL,
                  f"batch_er: blocking recall {recall} below {MIN_BLOCKING_RECALL}")
        out["operators.blocking.recall"] = recall
        pairs_in = out["operators.blocking.pairs_out"]
        out["operators.blocking.pairs_quality"] = (
            out["pipeline.matches_out"] / pairs_in if pairs_in else 0.0
        )
        release_persisted(raw)
        for df in (docs, gated, matches, comps):
            df.unpersist()
        return out

    def _blocking_recall(self, gated) -> float:
        """Share of the generator's truth pairs that survive blocking
        (the fused blocking + edit-distance gate)."""
        truth = self.truth.select(F.xxhash64("url").alias("id"), "cluster_id")
        gold = (
            truth.alias("a").join(truth.alias("b"), "cluster_id")
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        )
        n_gold = gold.count()
        found = gold.join(gated.select("id1", "id2"), ["id1", "id2"], "left_semi").count()
        return found / n_gold if n_gold else 1.0

    @staticmethod
    def _fold(ctx: Ctx, tr, edges, comps) -> dict:
        """The incremental layer on the batch run's own match graph:
        cluster all but a hash-chosen twentieth of the edges, fold that
        twentieth in with ``operators.incremental.update_clusters``, and
        check the result equals the batch clustering."""
        from deezymatch_spark.operators.cc import connected_components
        from deezymatch_spark.operators.incremental import update_clusters

        in_delta = F.pmod(F.xxhash64("src", "dst"), F.lit(20)) == 0
        prev = connected_components(edges.where(~in_delta)).localCheckpoint()
        delta = edges.where(in_delta).localCheckpoint()
        n_delta = delta.count()
        with tr.span("operators.incremental.update_clusters"):
            updated = update_clusters(prev, delta).select("node", "component").localCheckpoint()
            n_nodes = updated.count()
        comps = comps.select("node", "component")
        ctx.check(
            updated.exceptAll(comps).count() == 0 and comps.exceptAll(updated).count() == 0,
            "batch_er traced: update_clusters differs from batch connected components",
        )
        return {"operators.incremental.delta_edges": n_delta,
                "operators.incremental.nodes_out": n_nodes}


# --------------------------------------------------------- pair_scoring


def train_model(ctx: Ctx, pages: pd.DataFrame, tr) -> str:
    """Fit the siamese GRU on labeled pairs drawn from ``pages`` with
    ``model.train_numpy.fit`` and save the artifact. A small network
    (1 layer, 16 units) keeps set-up short; scoring cost per pair has
    the same shape as the default model's."""
    from deezymatch_spark.api import DEFAULT_TOKENIZE, SEED
    from deezymatch_spark.model.numpy_rnn import SiameseRNN
    from deezymatch_spark.model.scorer_udf import save_artifacts
    from deezymatch_spark.model.train_numpy import fit
    from deezymatch_spark.text import (
        Vocabulary,
        encode_tokens,
        normalize_string,
        pad_sequence,
        string_split,
    )

    cfg = dict(DEFAULT_TOKENIZE, architecture="gru", pooling_mode="hstates_layers_simple")
    tk = {k: cfg[k] for k in ("tokenize", "min_gram", "max_gram", "token_sep", "prefix_suffix")}
    pairs = inputs.labeled_pairs(pages, ctx.seed + 7)
    toks1 = [string_split(normalize_string(s), **tk) for s in pairs.s1]
    toks2 = [string_split(normalize_string(s), **tk) for s in pairs.s2]
    vocab = Vocabulary("perfbench")
    for a, b in zip(toks1, toks2):
        vocab.add_tokens(a)
        vocab.add_tokens(b)

    def enc(toks):
        X = np.zeros((len(toks), cfg["max_seq_len"]), dtype=np.int64)
        L = np.zeros(len(toks), dtype=np.int64)
        for i, t in enumerate(toks):
            X[i], n = pad_sequence(encode_tokens(t, vocab.tok2index), cfg["max_seq_len"])
            L[i] = max(n, 1)
        return X, L

    X1, l1 = enc(toks1)
    X2, l2 = enc(toks2)
    y = pairs.label.to_numpy().astype(np.int64)
    model = SiameseRNN.from_seed(
        SEED, vocab.n_tok, architecture="gru", hidden_dim=16, embedding_dim=16,
        n_layers=1, pooling_mode=cfg["pooling_mode"],
    )
    path = os.path.join(ctx.data, "model")
    with tr.span("model.train_numpy.fit"):
        model, _ = fit(
            model, (X1, l1, X2, l2, y), None, epochs=ctx.sizes["train_epochs"],
            batch_size=64, lr=0.01, seed=SEED, do_validation=0,
        )
    shutil.rmtree(path, ignore_errors=True)
    save_artifacts(path, model, vocab.tok2index, cfg)
    return path


class PairScoring:
    """``api.inference(inference_mode="test")`` over labeled title pairs
    read from Parquet: normalize, the fused GRU score + P4 filter."""

    name = "pair_scoring"
    traced_span = "api.inference.test"  # the span timed against an untraced operation
    # the workload's own name for each generic metric, as the report prints it
    labels = {"throughput_per_s": "scored_pairs_per_s", "latency_p50_ms": "pass_p50_ms",
              "latency_tail_ms": "pass_tail_ms", "quality": "pair_f1"}
    min_ops = 3
    setup_reps = 3

    def prepare(self, ctx: Ctx, tr) -> None:
        s = ctx.sizes
        pages = inputs.page_rows(ctx.seed, 0, s["pair_pages"])
        train_pages = inputs.page_rows(ctx.seed, s["pair_pages"], s["train_pages"])
        self.model = train_model(ctx, train_pages, tr)
        pairs = inputs.labeled_pairs(pages, ctx.seed)
        self.n = len(pairs)
        self.pairs_path = os.path.join(ctx.data, "pairs")
        shutil.rmtree(self.pairs_path, ignore_errors=True)
        inputs.write_frame(pairs, self.pairs_path, FILES)
        self.expected_dropped = self._p4_drops(pairs)

    def _p4_drops(self, pairs: pd.DataFrame) -> int:
        """Pairs whose either side has over half its tokens outside the
        model vocabulary (the reference's P4 rule), counted on the driver."""
        from deezymatch_spark.model.scorer_udf import load_artifacts
        from deezymatch_spark.text import normalize_string, string_split

        _, vocab, cfg = load_artifacts(self.model)
        tk = {k: cfg[k] for k in ("tokenize", "min_gram", "max_gram", "token_sep", "prefix_suffix")}

        def missing(s):
            toks = string_split(normalize_string(s), **tk)
            return 1.0 - sum(t in vocab for t in toks) / len(toks) if toks else 1.0

        return sum(missing(a) > 0.5 or missing(b) > 0.5 for a, b in zip(pairs.s1, pairs.s2))

    def _score(self, ctx: Ctx):
        from deezymatch_spark import api

        pairs = ctx.spark.read.parquet(self.pairs_path)
        out = api.inference(ctx.spark, self.model, pairs, inference_mode="test")
        lab = F.col("label")
        pred = F.col("prediction") == 1
        return out.agg(
            F.count("*").alias("n"),
            F.min("p1").alias("p1_min"),
            F.max("p1").alias("p1_max"),
            F.sum((pred & lab).cast("int")).alias("tp"),
            F.sum((pred & ~lab).cast("int")).alias("fp"),
            F.sum((~pred & lab).cast("int")).alias("fn"),
        ).collect()[0]

    def warmup(self, ctx: Ctx) -> None:
        self._score(ctx)

    def op(self, ctx: Ctx):
        secs, row = _timed(lambda: self._score(ctx))
        want = self.n - self.expected_dropped
        ctx.check(row.n == want, f"pair_scoring: {row.n} rows, expected {want}")
        ctx.check(
            row.n == 0 or (0.0 <= row.p1_min and row.p1_max <= 1.0),
            f"pair_scoring: p1 outside [0, 1]: {row.p1_min}..{row.p1_max}",
        )
        self.last = row
        return [(secs, self.n)]

    def quality(self, ctx: Ctx) -> dict:
        r = self.last
        tp, fp, fn = r.tp or 0, r.fp or 0, r.fn or 0
        return {
            "pair_f1": 2 * tp / (2 * tp + fp + fn) if tp else 0.0,
            "p4_dropped": self.expected_dropped,
        }

    def traced(self, ctx: Ctx, tr) -> dict:
        from deezymatch_spark.functions.udfs import normalize_udf
        from deezymatch_spark.model.scorer_udf import make_score_and_ratio_udf

        with tr.span("api.inference.test"):
            with tr.span("functions.udfs.normalize"):
                normed = (
                    ctx.spark.read.parquet(self.pairs_path)
                    .withColumn("s1_norm", normalize_udf(F.col("s1")))
                    .withColumn("s2_norm", normalize_udf(F.col("s2")))
                    .persist()
                )
                n = normed.count()
            with tr.span("model.scorer_udf.score"):
                sr = make_score_and_ratio_udf(self.model)
                row = (
                    normed.withColumn("_sr", sr(F.col("s1_norm"), F.col("s2_norm")))
                    .where((F.col("_sr.ratio1") <= 0.5) & (F.col("_sr.ratio2") <= 0.5))
                    .agg(F.count("*").alias("kept"))
                    .collect()[0]
                )
        normed.unpersist()
        ctx.check(row.kept == self.n - self.expected_dropped, "pair_scoring traced: row count")
        return {
            "functions.udfs.normalize_rows": 2 * n,
            "model.scorer_udf.pairs_scored": n,
            "model.scorer_udf.p4_dropped": n - row.kept,
        }


# ------------------------------------------------------- ranker_queries


class RankerQueries:
    """Closed loop of ranking requests: each ranks a batch of raw query
    strings with ``api.candidate_ranker(query=[...], calc_predict=True,
    ranking_metric="faiss")`` against an embedding store built in set-up.
    Queries are held-out variants whose entity-mates are in the store."""

    name = "ranker_queries"
    traced_span = "api.candidate_ranker"  # the span timed against an untraced operation
    # the workload's own name for each generic metric, as the report prints it
    labels = {"throughput_per_s": "ranked_queries_per_s", "latency_p50_ms": "rank_p50_ms",
              "latency_tail_ms": "rank_tail_ms", "quality": "rank_hit_at_10"}
    min_ops = 3
    setup_reps = 3
    NUM_CANDIDATES = 10

    def prepare(self, ctx: Ctx, tr) -> None:
        from deezymatch_spark import api

        s = ctx.sizes
        pages = inputs.page_rows(ctx.seed, 0, s["store_pages"])
        train_pages = inputs.page_rows(ctx.seed, s["store_pages"], s["train_pages"])
        self.model = train_model(ctx, train_pages, tr)
        held_out = (np.arange(len(pages)) % inputs.VARIANTS) == inputs.VARIANTS - 1
        store_rows = pages[~held_out].reset_index(drop=True)
        queries = pages[held_out].reset_index(drop=True)
        self.cluster_of = dict(enumerate(store_rows.cluster_id))
        self.queries = list(zip(queries.title, queries.cluster_id))
        path = os.path.join(ctx.data, "store_input")
        shutil.rmtree(path, ignore_errors=True)
        inputs.write_frame(
            pd.DataFrame({"id": np.arange(len(store_rows)), "key": store_rows.title}),
            path, FILES,
        )
        store = api.inference(
            ctx.spark, self.model, ctx.spark.read.parquet(path),
            inference_mode="vect", key_col="key",
        ).select("id", "key", "key_norm", "vec")
        self.store_path = os.path.join(ctx.data, "store")
        store.write.mode("overwrite").parquet(self.store_path)
        self.store_size = len(store_rows)
        self.next_query = 0

    def _batch(self, ctx: Ctx):
        """The next ``rank_queries`` pool indices, in pool order."""
        k = ctx.sizes["rank_queries"]
        out = [(self.next_query + i) % len(self.queries) for i in range(k)]
        self.next_query = (self.next_query + k) % len(self.queries)
        return out

    def _rank(self, ctx: Ctx, batch, queries_df=None):
        from deezymatch_spark import api

        return api.candidate_ranker(
            ctx.spark, queries_df, ctx.spark.read.parquet(self.store_path),
            query=None if queries_df is not None else [self.queries[i][0] for i in batch],
            artifact_path=self.model, calc_predict=True, ranking_metric="faiss",
            selection_threshold=1e9, num_candidates=self.NUM_CANDIDATES,
        ).select("query_id", "rank", "candidate_id", "faiss_dist", "dl_match").collect()

    def _check(self, ctx: Ctx, batch, rows) -> None:
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            ranks = [r.rank for r in rs]
            dists = [r.faiss_dist for r in rs]
            ctx.check(
                len(rs) <= self.NUM_CANDIDATES
                and ranks == list(range(1, len(rs) + 1))
                and all(a <= b for a, b in zip(dists, dists[1:])),
                f"ranker: query {qid} ranks {ranks} dists {dists}",
            )
        ctx.check(set(by_q) <= set(range(len(batch))), "ranker: unknown query ids")

    def warmup(self, ctx: Ctx) -> None:
        # the pool's last batch, so the measured loop starts at query 0
        k = ctx.sizes["rank_queries"]
        n = len(self.queries)
        self._rank(ctx, list(range(n - k, n)))

    def op(self, ctx: Ctx):
        batch = self._batch(ctx)
        secs, rows = _timed(lambda: self._rank(ctx, batch))
        self._check(ctx, batch, rows)
        return [(secs, len(batch))]

    def quality(self, ctx: Ctx) -> dict:
        """Hit@10 over a fixed spread of QUALITY_QUERIES pool queries in
        one untimed call. calc_predict is off: the faiss ranking does
        not read the GRU's dl_match, so the top 10 are the same."""
        from deezymatch_spark import api

        pool = list(range(0, len(self.queries), max(1, len(self.queries) // QUALITY_QUERIES)))
        pool = pool[:QUALITY_QUERIES]
        rows = api.candidate_ranker(
            ctx.spark, None, ctx.spark.read.parquet(self.store_path),
            query=[self.queries[i][0] for i in pool], artifact_path=self.model,
            ranking_metric="faiss", selection_threshold=1e9,
            num_candidates=self.NUM_CANDIDATES,
        ).select("query_id", "candidate_id").collect()
        hit = {r.query_id for r in rows
               if self.cluster_of[r.candidate_id] == self.queries[pool[r.query_id]][1]}
        h = len(hit) / len(pool)
        ctx.check(h >= MIN_HIT_AT_10, f"ranker: hit@10 {h} below {MIN_HIT_AT_10}")
        return {"rank_hit_at_10": h}

    def traced(self, ctx: Ctx, tr) -> dict:
        from deezymatch_spark import api

        batch = self._batch(ctx)
        with tr.span("api.candidate_ranker"):
            with tr.span("api.inference.vect"):
                qdf = ctx.spark.createDataFrame(
                    [(i, self.queries[p][0]) for i, p in enumerate(batch)], "id bigint, key string"
                )
                qv = api.inference(
                    ctx.spark, self.model, qdf, inference_mode="vect", key_col="key"
                ).select("id", "key", "key_norm", "vec").persist()
                qv.count()
            with tr.span("operators.ranker.candidate_ranker"):
                rows = self._rank(ctx, batch, queries_df=qv)
        qv.unpersist()
        self._check(ctx, batch, rows)
        examined = len(batch) * self.store_size  # exhaustive cross join
        return {
            "functions.udfs.normalize_rows": len(batch),
            "operators.ranker.pairs_examined": examined,
            "operators.ranker.examined_per_result": examined / max(1, len(rows)),
            "model.scorer_udf.pairs_scored": examined,  # calc_predict scores every pair
        }


# -------------------------------------------------- incremental_refresh


class IncrementalRefresh:
    """``pipeline.incremental_er`` over a bootstrapped state: every
    operation restores the state from the set-up snapshot, folds in the
    deltas one call at a time, then applies one deletion batch. Delta
    pages are held out of the bootstrap corpus by a url hash, so most
    join existing entities the way re-crawled pages do."""

    name = "incremental_refresh"
    traced_span = "pipeline.incremental_er"  # the span timed against an untraced operation
    # the workload's own name for each generic metric, as the report prints it
    labels = {"throughput_per_s": "delta_pages_per_s", "latency_p50_ms": "delta_p50_ms",
              "latency_tail_ms": "delta_tail_ms", "quality": "bcubed_f1"}
    min_ops = 1  # one restore → deltas → deletion cycle
    setup_reps = 1  # a bootstrap is a full batch ER run

    def prepare(self, ctx: Ctx, tr) -> None:
        from deezymatch_spark.pipeline import incremental_er

        s = ctx.sizes
        step = s["inc_delta_pages"]
        n_deltas = s["inc_deltas"] + 1  # the last one is the warm-up's
        df = inputs.page_rows(ctx.seed, 0, s["inc_pages"])
        h = pd.util.hash_pandas_object(df.url, index=False).to_numpy()
        order = np.argsort(h % 1_000_003, kind="stable")
        is_delta = np.zeros(len(df), dtype=bool)
        is_delta[order[: step * n_deltas]] = True
        corpus, delta = df[~is_delta], df[is_delta]
        self.truth = ctx.spark.createDataFrame(df[["url", "cluster_id"]]).cache()
        self.truth.count()

        root = ctx.data
        self.corpus_path = os.path.join(root, "inc_corpus")
        shutil.rmtree(self.corpus_path, ignore_errors=True)
        inputs.write_pages(corpus, self.corpus_path, FILES)
        self.delta_paths = []
        for k in range(n_deltas):
            p = os.path.join(root, f"inc_delta_{k}")
            shutil.rmtree(p, ignore_errors=True)
            inputs.write_pages(delta.iloc[k * step:(k + 1) * step], p, 1)
            self.delta_paths.append(p)
        self.warmup_urls = delta.url.iloc[-step:].tolist()
        # deletions: bootstrap pages, in another hash order
        self.deleted_urls = corpus.url.iloc[
            np.argsort(h[~is_delta] % 999_983, kind="stable")[: s["inc_deletes"]]
        ].tolist()
        self.final_urls = len(corpus) + step * s["inc_deltas"] - len(self.deleted_urls)

        self.snapshot = os.path.join(root, "inc_snapshot")
        self.state = os.path.join(root, "inc_state")
        shutil.rmtree(self.snapshot, ignore_errors=True)
        with tr.span("pipeline.incremental_er.bootstrap"):
            incremental_er(ctx.spark, ctx.spark.read.parquet(self.corpus_path), self.snapshot)
        self.first = None
        self.delete_s: list[float] = []

    def _restore(self, ctx: Ctx) -> None:
        # drop cached plans over the previous state's files
        ctx.spark.catalog.clearCache()
        self.truth.cache()
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(self.snapshot, self.state)

    def _ids(self, ctx: Ctx, urls):
        return ctx.spark.createDataFrame([(u,) for u in urls], "url string").select(
            F.xxhash64("url").alias("id")
        )

    def warmup(self, ctx: Ctx) -> None:
        from deezymatch_spark.pipeline import incremental_er

        self._restore(ctx)
        incremental_er(ctx.spark, ctx.spark.read.parquet(self.delta_paths[-1]), self.state)
        incremental_er(ctx.spark, None, self.state, deleted_ids=self._ids(ctx, self.warmup_urls))

    def op(self, ctx: Ctx):
        """restore → each delta (one sample per call) → the deletion."""
        from deezymatch_spark.pipeline import incremental_er

        self._restore(ctx)
        samples = []
        for p in self.delta_paths[:-1]:
            delta = ctx.spark.read.parquet(p)
            n = delta.count()
            t0 = time.perf_counter()
            incremental_er(ctx.spark, delta, self.state)
            samples.append((time.perf_counter() - t0, n))
        t0 = time.perf_counter()
        clusters = incremental_er(
            ctx.spark, None, self.state, deleted_ids=self._ids(ctx, self.deleted_urls)
        )
        self.delete_s.append(time.perf_counter() - t0)
        _check_assignment(ctx, clusters, self.final_urls, "incremental_refresh")
        if self.first is None:
            # the quality figure reads the first cycle's final state, so
            # it does not depend on how many cycles the loop made
            self.first = clusters.localCheckpoint()
        self.extra = {"delete_p50_ms": 1000 * float(np.median(self.delete_s))}
        return samples

    def quality(self, ctx: Ctx) -> dict:
        return {"bcubed_f1": _bcubed_f1(self.first, self.truth)}

    def traced(self, ctx: Ctx, tr) -> dict:
        from deezymatch_spark.pipeline import incremental_er

        self._restore(ctx)
        written, delta_bytes, rows = [], 0, 0
        with tr.span("pipeline.refresh"):
            for p in self.delta_paths[:-1]:
                before = _files(self.state)
                delta_bytes += _dir_bytes(p)
                with tr.span("pipeline.incremental_er"):
                    incremental_er(ctx.spark, ctx.spark.read.parquet(p), self.state)
                after = _files(self.state)
                written.append(sum(sz for f, (sz, ino) in after.items() if before.get(f) != (sz, ino)))
            with tr.span("pipeline.delete"):
                clusters = incremental_er(
                    ctx.spark, None, self.state, deleted_ids=self._ids(ctx, self.deleted_urls)
                )
                rows = clusters.count()
        ctx.check(rows == self.final_urls, "incremental traced: row count")
        return {
            "pipeline.state_bytes_written": sum(written) / len(written),
            "pipeline.write_amplification": sum(written) / max(1, delta_bytes),
            "pipeline.state_bytes": _dir_bytes(self.state),
        }


def _files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, inode) of every file under ``root``: a file a call
    wrote is new or changed here (the table swap renames fresh files in)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_ino)
    return out


WORKLOADS = {w.name: w for w in (BatchER, PairScoring, RankerQueries, IncrementalRefresh)}
