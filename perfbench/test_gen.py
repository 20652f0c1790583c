"""Self-tests of the benchmark's generator and references (no Spark).

    python3 -m pytest perfbench -q
"""

import filecmp
import json
import os
import re
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

import run
from gen import TINY, generate
from reference import (BM25Reference, planted_pairs, recall_at_k,
                       topk_ok)


def test_same_seed_same_bytes(tmp_path):
    a = generate(7, str(tmp_path / "a"), TINY)
    generate(7, str(tmp_path / "b"), TINY)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    assert {"documents.parquet", "embeddings.parquet",
            "manifest.json"} <= set(names)
    assert sum(op["op"] == "append" for op in a.churn) == TINY.churn_rounds
    for name in names:
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name,
                           shallow=False), name


def test_other_seed_other_corpus(tmp_path):
    generate(7, str(tmp_path / "a"), TINY)
    generate(8, str(tmp_path / "b"), TINY)
    assert not filecmp.cmp(tmp_path / "a" / "documents.parquet",
                           tmp_path / "b" / "documents.parquet",
                           shallow=False)


def test_planted_jaccard_matches_written_text(tmp_path):
    inputs = generate(3, str(tmp_path), TINY)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(text) == inputs.n_base
    for a, b, jac in inputs.near_pairs:
        sa = set(re.findall(r"\w+", text[int(inputs.doc_ids[a])]))
        sb = set(re.findall(r"\w+", text[int(inputs.doc_ids[b])]))
        assert round(len(sa & sb) / len(sa | sb), 6) == jac
    assert planted_pairs(inputs, 0.9)


def test_embeddings_plant_near_copies(tmp_path):
    inputs = generate(5, str(tmp_path), TINY)
    v = inputs.vectors.astype(np.float64)
    u = v / np.linalg.norm(v, axis=1, keepdims=True)
    for group in inputs.vec_groups:
        assert all(u[group[0]] @ u[i] > 0.99 for i in group[1:])


def test_bm25_reference_golden():
    """FIXTURES.md §1.3: the hand-checked micro corpus."""
    vocab = ["apple", "banana", "cherry"]
    docs = [[0, 0, 1], [1, 2], [2, 2, 2, 0]]
    corpus = SimpleNamespace(
        tokens=np.array(sum(docs, []), dtype=np.int32),
        tok_doc=np.repeat(np.arange(3, dtype=np.int32),
                          [len(d) for d in docs]),
        lengths=np.array([len(d) for d in docs]),
        doc_ids=np.array(["d1", "d2", "d3"], dtype=object), n_base=3,
        term_id=lambda: {w: i for i, w in enumerate(vocab)})
    ref = BM25Reference(corpus)
    golden = {
        "apple": [("d1", 0.540620), ("d3", 0.360413)],
        "banana cherry": [("d2", 0.926777), ("d3", 0.572421),
                          ("d1", 0.405465)],
        "apple pie": [("d1", 0.540620), ("d3", 0.360413)],
    }
    for query, rows in golden.items():
        assert topk_ok(rows, ref.scores(query)), query
    assert not topk_ok([("d3", 0.360413), ("d1", 0.540620)],
                       ref.scores("apple"))
    assert not topk_ok([("d1", 0.540620)], ref.scores("apple"))
    ref.set_live([0], False)
    assert set(ref.scores("apple")) == {"d3"}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(__file__), "..",
                           "BENCHMARK.json")) as f:
        bench = json.load(f)
    ctx = SimpleNamespace(latencies={"probe": [1.0, 2.0]}, attempted=3,
                          failed=0, recall=[1.0], live_heap_mb=[300.0])
    e2e = run.end_to_end(ctx, [3.0], 9.0, 2000.0)
    assert {k: u for k, (_, u) in e2e.items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]}
    asked = []
    tracer = SimpleNamespace(median=lambda key: asked.append(key) or 1.0,
                             bookkeeping_s=0.5)
    layers = run.per_layer(bench["per_layer"], tracer, [3.0], 7.0, 0.4)
    assert {k: u for k, (_, u) in layers.items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]}
    assert set(run.TRACED_AS) <= set(layers)
    assert not set(run.TRACED_AS) & set(asked)


def test_topk_checks_ties_at_the_kth_place():
    ref = {"1": 3.0, "10": 2.0, "2": 2.0, "3": 2.0000004, "4": 1.0}
    # Rounded to 6 dp "10", "2" and "3" tie; ids order as strings.
    assert topk_ok([("1", 3.0), ("10", 2.0)], ref, k=2)
    assert not topk_ok([("1", 3.0), ("2", 2.0)], ref, k=2)
    assert not topk_ok([("1", 3.0), ("3", 2.0)], ref, k=2)
    assert topk_ok([("1", 3.0), ("10", 2.0), ("2", 2.0), ("3", 2.0)],
                   ref, k=4)
    assert recall_at_k([("1", 3.0), ("2", 2.0)], ref, k=2) == 0.5
    assert recall_at_k([], {}, k=2) == 1.0
