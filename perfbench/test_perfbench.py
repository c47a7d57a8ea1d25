"""The benchmark's own tests (no Spark): python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from apache___solr_spark.corpus import generate_pages  # noqa: E402
from apache___solr_spark.oracle import build_oracle_index, oracle_search  # noqa: E402
from measure import tail  # noqa: E402
from oracles import RemappedOracle  # noqa: E402
from querygen import SHAPES, query_stream, stream_summary  # noqa: E402
from workloads import END_TO_END, Batch, per_layer_units  # noqa: E402

PHRASE_DOCS = [["alpha", "beta", "gamma"], ["web", "data"]]


def test_same_seed_same_inputs(tmp_path):
    assert query_stream(5, 3, PHRASE_DOCS) == query_stream(5, 3, PHRASE_DOCS)
    assert query_stream(5, 3, PHRASE_DOCS) != query_stream(6, 3, PHRASE_DOCS)
    a = Batch(str(tmp_path / "a"), seed=5, cycle=1)
    b = Batch(str(tmp_path / "b"), seed=5, cycle=1)
    assert pq.read_table(a.path).equals(pq.read_table(b.path))
    assert a.rows == b.rows and a.marker == b.marker


def test_every_round_holds_every_shape():
    qs = query_stream(3, 4, PHRASE_DOCS)
    n = len(SHAPES)
    for r in range(4):
        assert sorted(q["shape"] for q in qs[r * n : (r + 1) * n]) == sorted(SHAPES)
    summary = stream_summary(qs)
    assert sum(summary["per_shape"].values()) == len(qs)
    assert 0.0 <= summary["repeat_term_share"] <= 1.0


def test_tail_has_ten_samples_beyond():
    xs = list(range(100))
    value, pct = tail(xs)
    assert value == 89 and pct == 90.0
    assert sum(x > value for x in xs) == 10
    # below 22 samples nothing above the median has ten beyond it
    assert tail(list(range(21)))[0] == 10
    assert tail(list(range(20))) == (9.5, 50.0)
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0)
    value, pct = tail(list(range(30)))
    assert value == 19 and sum(x > value for x in range(30)) == 10
    with pytest.raises(ValueError):
        tail([])


def test_declared_metrics_match_printed_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        decl = json.load(f)
    assert {m["name"]: m["unit"] for m in decl["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == per_layer_units()
    assert decl["paths"] == ["perfbench"]


def test_remapped_oracle_without_writes_is_oracle_search():
    rows = generate_pages(150, seed=9).to_pylist()
    plain = build_oracle_index(rows)
    remapped = RemappedOracle(rows)
    for q in query_stream(9, 2, [["web", "data"]]):
        assert remapped.search(q["query"], q["k"]) == oracle_search(plain, q["query"], k=q["k"])


def test_remapped_oracle_numbers_batches_after_base(tmp_path):
    base = generate_pages(60, seed=4).to_pylist()
    batch = Batch(str(tmp_path), seed=4, cycle=0)
    o = RemappedOracle(base)
    avgdl = o.idx.avgdl
    o.add(batch.rows)
    o.delete([60, 61])
    assert o.idx.n_docs == 60 + len(batch.rows)
    assert o.idx.avgdl == avgdl  # add_docs keeps the build-time avgdl
    hits = o.search(batch.marker, 10)
    assert hits and all(h["doc_id"] >= 62 for h in hits)
    assert [h["url"] for h in hits] == [o.idx.url_by_doc[h["doc_id"]] for h in hits]
    assert o.idx.url_by_doc[60:] == sorted(r["url"] for r in batch.rows)
