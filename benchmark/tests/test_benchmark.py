"""The benchmark's own tests: generator determinism, the span and
percentile arithmetic, and a tiny-size smoke run of each workload.

    python3 -m pytest benchmark/tests -q -p no:cacheprovider

The smoke runs submit the real job and take a few minutes.
"""
from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(BENCH_DIR), BENCH_DIR]

import gen  # noqa: E402
import run  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    percentile,
    quartile_spread,
    self_time_by_name,
    self_times,
    summarize,
    tail_percentile,
)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(tmp_path, name: str, seed: int) -> tuple:
    out = tmp_path / name
    out.mkdir()
    truth = {
        "pages": gen.gen_pages_hitheavy(seed, str(out), 400),
        "warc": gen.gen_warc_dedup(seed, str(out), 200, 0.05, 0.1, 0.05),
    }
    gen.write_sidecar(str(out / "truth.json"), truth)
    return _tree_digest(str(out)), truth


def test_generator_is_deterministic_per_seed(tmp_path):
    a, truth = _generate(tmp_path, "a", 7)
    b, _ = _generate(tmp_path, "b", 7)
    c, _ = _generate(tmp_path, "c", 8)
    assert a == b
    assert a != c
    assert truth["pages"]["categories"] == 16
    # every pages.py category is in the oracle sample
    from pdf2doi_spark.pages import category_of

    assert {category_of(s["doc_id"]) for s in truth["pages"]["sample"]} \
        == set(range(16))
    w = truth["warc"]
    assert {s["kind"] for s in w["sample"]} == {
        "miss", "dup", "meta", "text_doi", "text_doiorg", "url_path"}
    assert len(w["dup_pairs"]) == 20
    assert w["n_pages"] == 200 + len(w["recrawled_urls"])


def test_warc_misses_carry_no_candidate_marker(tmp_path):
    import base64

    truth = gen.gen_warc_dedup(3, str(tmp_path), 200, 0.05, 0.1, 0.05)
    for s in truth["sample"]:
        html = base64.b64decode(s["html_b64"])
        assert (b"10." in html or b"10." in s["url"].encode()) \
            == (s["kind"] not in ("miss", "dup")), s["kind"]


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 5.0, "end": 9.0},
        {"id": 3, "name": "c", "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "name": "d", "parent": 2, "start": 5.5, "end": 6.5},
        {"id": 5, "name": "e", "parent": 2, "start": 7.0, "end": 8.5},
    ]
    assert self_times(spans) == {0: 3.0, 1: 2.0, 2: 1.5, 3: 1.0, 4: 1.0,
                                 5: 1.5}


def test_tracer_nests_and_sums_by_name():
    ticks = iter(range(100))
    tr = Tracer("r", clock=lambda: float(next(ticks)))
    with tr.span("job"):          # 0 .. 7
        with tr.span("x"):        # 1 .. 2
            pass
        with tr.span("y"):        # 3 .. 6
            with tr.span("x"):    # 4 .. 5
                pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 0, 2]
    assert {s["run_id"] for s in tr.spans} == {"r"}
    assert self_time_by_name(tr.spans) == {"job": 3.0, "x": 2.0, "y": 2.0}


def test_percentile_arithmetic():
    assert tail_percentile(1) is None
    assert tail_percentile(19) is None
    assert tail_percentile(20) is None          # p50 is the median itself
    assert tail_percentile(21) == 52
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    values = list(range(1, 101))
    assert percentile(values, 90) == 90
    assert percentile(values, 99) == 99
    assert percentile([5.0], 50) == 5.0
    s = summarize([float(v) for v in values])
    assert s == {"n": 100, "median": 50.5, "p90": 90.0}
    assert summarize([3.0]) == {"n": 1, "median": 3.0}
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


TINY = {
    "pages_hitheavy": {"n_pages": 800, "shards": 4},
    "warc_dedup": {"n_urls": 150, "hit_share": 0.05, "dup_share": 0.1,
                   "recrawl_share": 0.05, "shards": 4},
}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke_tiny_run(workload, monkeypatch):
    """One cold submit of the real job per workload, checked end to end."""
    monkeypatch.setattr(run, "WORKLOADS", TINY)
    state = run.State(workload, 1)
    try:
        truth = run.generate(workload, 1, state)
        passes, outcome = run.measure(workload, state, truth, 0,
                                      run.spark_submit_path())
        assert [p["rc"] for p in passes] == [0]
        assert outcome["correct"], outcome
        assert outcome["wrong_rows"] == 0
        assert outcome["result_files"] == TINY[workload]["shards"]
        e2e = run.end_to_end(truth, passes)
        assert set(e2e) == set(run.E2E_UNITS)
        assert all(v["median"] > 0 for v in e2e.values())
        with open(state.path("truth.json")) as fh:
            assert json.load(fh)["seed"] == 1
    finally:
        state.cleanup()
