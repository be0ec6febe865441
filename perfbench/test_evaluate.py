"""The benchmark's contingency-table scores equal the pipeline's own
pair-enumerating evaluation exactly.

    python3 -m pytest perfbench/test_evaluate.py -q
"""

from __future__ import annotations

import itertools
import os
import random
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.evaluate import pairwise_scores, same_partition  # noqa: E402


def _pairs(labels: dict) -> set:
    return {
        (a, b)
        for a, b in itertools.combinations(sorted(labels), 2)
        if labels[a] == labels[b]
    }


def _perturb(truth: dict, rng: random.Random) -> dict:
    """Merge some clusters (one giant false component) and split others."""
    pred = dict(truth)
    ids = sorted(truth)
    giant = rng.sample(ids, len(ids) // 5)
    for d in giant:
        pred[d] = "giant"
    for d in rng.sample(ids, len(ids) // 10):
        pred[d] = f"single-{d}"
    return pred


def test_matches_pair_enumeration():
    rng = random.Random(7)
    for _ in range(20):
        truth = {f"d{i}": rng.randrange(15) for i in range(60)}
        pred = _perturb(truth, rng)
        got = pairwise_scores(pred, truth)
        p, t = _pairs(pred), _pairs(truth)
        assert got["tp"] == len(p & t)
        assert got["pred_pairs"] == len(p)
        assert got["true_pairs"] == len(t)


def test_same_partition():
    a = {"x": 1, "y": 1, "z": 2}
    assert same_partition(a, {"x": "p", "y": "p", "z": "q"})
    assert not same_partition(a, {"x": "p", "y": "q", "z": "q"})
    assert not same_partition(a, {"x": "p", "y": "p", "z": "p"})
    with pytest.raises(ValueError):
        same_partition(a, {"x": 1, "y": 1})


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from bigdataentityresolution_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_agrees_with_pipeline_pairwise_f1(spark):
    from bigdataentityresolution_spark.plans.pipeline import pairwise_f1
    from bigdataentityresolution_spark.sources.synthetic import generate_corpus

    corpus = generate_corpus(n_clusters=30, n_unrelated=40, seed=3)
    truth = dict(corpus.truth)
    pred = _perturb({k: str(v) for k, v in truth.items()}, random.Random(3))
    to_df = lambda d: spark.createDataFrame(  # noqa: E731
        [(k, str(v)) for k, v in d.items()], "spec_id string, cluster_id string"
    )
    ref = pairwise_f1(to_df(pred), to_df(truth))
    got = pairwise_scores(pred, truth)
    for key in ("tp", "pred_pairs", "true_pairs", "precision", "recall", "f1"):
        assert got[key] == ref[key], key
