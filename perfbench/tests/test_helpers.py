"""Unit tests of the benchmark's pure helpers (no Spark):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from perfbench import gen, host
from perfbench.stats import (
    covered,
    fingerprint,
    percentile,
    self_times,
    summarize,
    tail_percentile,
)
from perfbench.trace import attribute


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_summarize_reports_median_and_supported_tail_only():
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = summarize([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "p90": 90.0}
    assert summarize([]) == {"n": 0}


def test_percentile_is_nearest_rank():
    rng = random.Random(7)
    for _ in range(200):
        xs = [rng.random() for _ in range(rng.randint(1, 40))]
        p = rng.choice([1, 25, 50, 90, 99, 100])
        got = percentile(xs, p)
        below = sum(x <= got for x in xs)
        assert below >= p / 100 * len(xs)
        assert sum(x < got for x in xs) < p / 100 * len(xs) or got == min(xs)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_covered_is_union_clipped_to_window():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([], 0, 10) == 0
    assert covered([(-5, -1), (11, 20)], 0, 10) == 0
    assert covered([(0, 10), (2, 3)], 0, 10) == 10


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 2, "start": 2.5, "end": 4.0},  # grandchild of 0
        {"id": 4, "parent": None, "start": 20.0, "end": 21.0},
    ]
    st = self_times(spans)
    assert st == {0: 6.0, 1: 2.0, 2: 1.5, 3: 1.5, 4: 1.0}


def test_fingerprint_is_order_insensitive_multiset_hash():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]
    fp = fingerprint(rows)
    assert fp == fingerprint(list(reversed(rows)))
    assert fp.startswith("3:")
    assert fp != fingerprint(rows + [rows[0]])  # duplicates count
    assert fp != fingerprint(rows[:2] + [(3, "c", 1.2500001)])
    assert fingerprint([(0.0,)]) == fingerprint([(-0.0,)])
    assert fingerprint([(float("nan"),)]) == fingerprint([(None,)])
    assert fingerprint([(1,)]) != fingerprint([(1.0,)])
    assert fingerprint([]) == "0:0000000000000000"


def test_corpus_is_a_function_of_the_seed():
    a, b = gen.corpus(3, 0.001), gen.corpus(3, 0.001)
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    c = gen.corpus(4, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])
    li = a["lineitem"].to_pandas()
    assert set(li.l_returnflag) == {"A", "N", "R"}
    assert {0.0, 0.1} <= set(li.l_discount)
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    docs = a["documents"].to_pandas()
    assert docs.text.str.endswith(" dup").sum() == int(len(docs) * gen.DUP_SHARE)
    emb = np.stack(a["embeddings"].column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)


def test_ingest_batches_are_seeded_and_fold_to_every_event_once():
    a = gen.ingest_batches(5, 4, 2000, 120)
    b = gen.ingest_batches(5, 4, 2000, 120)
    for x, y in zip(a, b):
        assert all(x[k].equals(y[k]) for k in ("events", "restated", "documents"))
    assert not a[1]["events"].equals(gen.ingest_batches(6, 4, 2000, 120)[1]["events"])

    final = gen.fold_events(a, 3)
    assert sorted(final) == list(range(2000))
    seen: dict[int, dict] = {}
    last_restated: dict[int, float] = {}
    for k, batch in enumerate(a):
        rows = batch["events"].to_pylist()
        first_time = {r["event_id"] for r in rows} - seen.keys()
        # 5% of the 500-event slice are redeliveries of rows already seen
        assert len(rows) - len(first_time) == 25
        for r in rows:  # a redelivery repeats the original row exactly
            assert seen.setdefault(r["event_id"], r) == r
        for r in batch["restated"].to_pylist():
            assert r["event_id"] in gen.fold_events(a, k - 1)
            last_restated[r["event_id"]] = r["value"]
    assert last_restated
    for event_id, value in last_restated.items():
        assert final[event_id][4] == value
    doc_ids = [i for batch in a for i in batch["documents"].column("doc_id").to_pylist()]
    assert sorted(doc_ids) == list(range(120))


def test_late_events_stay_inside_the_stream_watermark():
    batches = gen.ingest_batches(9, 4, 4000, 40)
    delivered: set[int] = set()
    newest, n_late = None, 0
    for batch in batches:
        rows = batch["events"].to_pylist()
        stamps = [r["ts"] for r in rows]
        for r in rows:
            if r["event_id"] in delivered or newest is None:
                continue
            # a first delivery older than what the stream has already seen
            # must lag it by less than the 1-hour watermark
            if r["ts"] < newest:
                n_late += 1
                assert (newest - r["ts"]).total_seconds() * 1e6 <= gen.LATE_LAG_US
        delivered |= {r["event_id"] for r in rows}
        newest = max(stamps) if newest is None else max(newest, max(stamps))
    assert n_late > 0


def test_attribute_prefers_our_job_group_then_time_window():
    spans = [
        {"id": 0, "parent": None, "op": None, "phase": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "op": "q1", "phase": "ref", "start": 1.0, "end": 2.0},
        {"id": 2, "parent": 0, "op": "q1", "phase": "action", "start": 2.0, "end": 4.0},
    ]
    jobs = [
        {"group": "w/q1/ref", "submit": 1.5},
        {"group": "w/q1/action", "submit": 4.0001},  # clock skew past the span end
        {"group": None, "submit": 3.0},
        {"group": "stream-run-id", "submit": 5.0},
    ]
    attribute(jobs, spans, "w")
    assert [j["span"] for j in jobs] == [1, 2, 2, 0]
    assert [j["by_window"] for j in jobs] == [False, False, True, True]


def test_unstolen_takes_out_the_steal_share_of_busy_ticks():
    # user system idle steal: 45 + 15 busy, 100 idle, 40 stolen
    before = [0] * 8
    after = [45, 0, 15, 100, 0, 0, 0, 40]
    assert host.unstolen_s(10.0, before, after) == pytest.approx(6.0)
    # no busy tick, no steal share
    assert host.unstolen_s(10.0, before, [0, 0, 0, 100, 0, 0, 0, 0]) == 10.0
