"""In-process kernel timings for the ``functions`` layer: the Python
functions behind the pandas UDFs, called directly on pandas batches drawn
from the workload's own fixture. No Spark, no Arrow transfer — the gap to
``scoring.pairs_per_s`` × task slots is the engine's overhead."""

from __future__ import annotations

import random
import statistics
import time

import pandas as pd


class _Value:
    """Stand-in for a SparkContext broadcast (the UDFs read ``.value``)."""

    def __init__(self, value):
        self.value = value


def _reset_worker_caches() -> None:
    """Empty the worker-lifetime kernel caches, so every timed call
    scores its batch the way a fresh Python worker does (a pair is
    scored once per job; a warm-cache repeat would time cache hits)."""
    from poi_name_matching_spark.functions import spark_udfs

    for name in ("_EMB_CACHE", "_WINNER_CACHE"):
        cache = getattr(spark_udfs, name, None)
        if isinstance(cache, dict):
            cache.clear()
    jw = getattr(spark_udfs, "_jw_cached", None)
    if hasattr(jw, "cache_clear"):
        jw.cache_clear()


def _us_per_item(fn, n_items: int, repeats: int = 3) -> float:
    fn()  # imports and first-call set-up
    times = []
    for _ in range(repeats):
        _reset_worker_caches()
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times) / n_items * 1e6


def measure(texts: list[str], pairs: list[tuple[int, int]], seed: int) -> dict:
    """``texts``: documents of the workload (signature texts or document
    bodies); ``pairs``: index pairs into ``texts`` to score. Returns
    µs per text / pair / signature for the three hot UDF bodies."""
    from poi_name_matching_spark.functions.embedding import HashEmbedder
    from poi_name_matching_spark.functions.spark_udfs import (
        make_minhash_udf,
        make_sim_scores_udf,
        normalize_tokens,
    )
    from poi_name_matching_spark.operators.blocking import BlockingConfig
    from poi_name_matching_spark.operators.scoring import UDF_KERNELS, ScoringConfig

    from .workloads import NORTH_KERNELS

    norm = normalize_tokens.func
    text_s = pd.Series(texts)
    tokens = list(norm(text_s))
    out = {"normalize_tokens.us_per_text": _us_per_item(lambda: norm(text_s), len(texts))}

    # document frequency over the distinct texts, as scoring.document_frequency
    distinct = dict(zip(texts, tokens))
    df_map: dict[str, int] = {}
    for toks in distinct.values():
        for tok in set(toks):
            df_map[tok] = df_map.get(tok, 0) + 1
    corpus = len(distinct)
    sc = ScoringConfig()
    fields = [k for k in NORTH_KERNELS if k in UDF_KERNELS]
    sim = make_sim_scores_udf(
        _Value(df_map), _Value(corpus), HashEmbedder(dim=sc.embed_dim, seed=sc.embed_seed),
        softtfidf_threshold=sc.softtfidf_threshold, fields=fields,
    ).func
    rng = random.Random(seed)
    sample = rng.sample(pairs, min(len(pairs), 400))
    args = (
        pd.Series([texts[a] for a, _ in sample]),
        pd.Series([texts[b] for _, b in sample]),
        pd.Series([tokens[a] for a, _ in sample]),
        pd.Series([tokens[b] for _, b in sample]),
    )
    out["sim_scores.us_per_pair"] = _us_per_item(lambda: sim(*args), len(sample))
    out["sim_scores.pairs"] = len(sample)

    bc = BlockingConfig()
    mh = make_minhash_udf(bc.num_hashes, bc.minhash_seed).func
    tok_s = pd.Series(tokens)
    out["minhash.us_per_sig"] = _us_per_item(lambda: mh(tok_s), len(tokens))
    out["texts"] = len(texts)
    return out
