"""Property tests for label propagation, the Count-Min sketch, and
the audio window framing — pure-Python reimplementation checks (the
oracle sweep already hash-matches DuckDB; these catch a shared spec
bug both engines could agree on)."""

from __future__ import annotations

import hashlib
from collections import Counter

import pyarrow.parquet as pq

from metadata_wrangler_spark import plans

plans.load_all_plans()

SF = "/root/testdata/sf0.001"


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_label_propagation_matches_sync_python(spark):
    n = pq.read_table(f"{SF}/customer.parquet", columns=["c_custkey"]) \
        .num_rows
    keys = list(range(n))
    edges = [(k, (k * 7 + 3) % n) for k in keys] \
        + [(k, (k * 13 + 5) % n) for k in keys]
    neigh: dict[int, list[int]] = {k: [] for k in keys}
    for a, b in edges:          # undirected multi-edges, both ways
        neigh[a].append(b)
        neigh[b].append(a)
    labels = {k: k for k in keys}
    for _ in range(4):          # synchronous rounds
        nxt = {}
        for u in keys:
            freq = Counter(labels[v] for v in neigh[u])
            best = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[u] = best[0]
        labels = nxt
    got = {
        int(r.node): int(r.label)
        for r in plans.QUERIES["g_label_propagation"](spark, SF).collect()
    }
    assert got == labels
    # sanity: propagation actually merged communities
    assert len(set(labels.values())) < n


def test_countmin_never_underestimates(spark):
    t = pq.read_table(f"{SF}/events.parquet", columns=["user_id"])
    uids = t.column("user_id").to_pylist()
    counters: Counter = Counter()
    for u in uids:
        for r in range(4):
            counters[(r, _md5_long(f"{r}_{u}") % 256)] += 1
    exact = Counter(uids)
    out = plans.QUERIES["a_countmin_heavy_hitters"](spark, SF).collect()
    assert 1 <= len(out) <= 20
    for r in out:
        u = int(r.user_id)
        est = min(counters[(d, _md5_long(f"{d}_{u}") % 256)]
                  for d in range(4))
        assert int(r.cms_est) == est
        assert int(r.exact_n) == exact[u]
        # one-sided error: CMS can only overestimate
        assert est >= exact[u]


def test_audio_windows_match_python_framing(spark):
    t = pq.read_table(f"{SF}/documents.parquet",
                      columns=["doc_id", "text"])
    expect = {}
    for d, text in zip(t.column("doc_id").to_pylist(),
                       t.column("text").to_pylist()):
        if d % 7 != 3:
            continue
        seed = hashlib.md5(("FAKEAU" + text).encode()).digest()
        samples = [seed[i % 16] - 128 for i in range(16)]
        for w_no, start in enumerate(range(0, 16 - 8 + 1, 4)):
            win = samples[start:start + 8]
            expect[(d, w_no)] = (
                sum(abs(x) for x in win),
                max(abs(x) for x in win),
                sum(x * x for x in win),
                hashlib.md5(",".join(map(str, win)).encode()).hexdigest(),
            )
    got = {
        (int(r.doc_id), int(r.window_no)):
            (int(r.sum_abs), int(r.peak), int(r.energy), r.window_md5)
        for r in plans.QUERIES["mm_audio_windows"](spark, SF).collect()
    }
    assert got == expect
    # window/hop framing: exactly (16-8)/4 + 1 = 3 windows per doc
    per_doc = Counter(d for d, _ in got)
    assert set(per_doc.values()) == {3}


def test_simpson_diversity_matches_python(spark):
    t = pq.read_table(f"{SF}/events.parquet",
                      columns=["event_type", "user_id"])
    per: dict[str, Counter] = {}
    for et, u in zip(t.column("event_type").to_pylist(),
                     t.column("user_id").to_pylist()):
        per.setdefault(et, Counter())[u] += 1
    out = {r.event_type: (int(r.n_events), int(r.n_users),
                          int(r.simpson_ppm))
           for r in plans.QUERIES["a_simpson_diversity"](spark, SF)
           .collect()}
    assert set(out) == set(per)
    for et, cnt in per.items():
        n = sum(cnt.values())
        num = sum(c * (c - 1) for c in cnt.values())
        assert out[et] == (n, len(cnt), (num * 1_000_000) // (n * (n - 1)))
        # bounds: a probability in [0, 1e6]
        assert 0 <= out[et][2] <= 1_000_000


def test_concurrency_sweep_matches_python_sweep_line(spark):
    t = pq.read_table(f"{SF}/events.parquet",
                      columns=["event_id", "ts"])
    import datetime as dt
    bounds = []
    for eid, ts in zip(t.column("event_id").to_pylist(),
                       t.column("ts").to_pylist()):
        ep = int(ts.timestamp()) if isinstance(ts, dt.datetime) \
            else int(ts) // 1_000_000_000
        bounds.append((ep, 1, eid))
        bounds.append((ep + 1800, -1, eid))
    bounds.sort(key=lambda x: (x[0], -x[1], x[2]))
    conc = 0
    per_hour: dict[int, list[int]] = {}
    for ep, d, _ in bounds:
        conc += d
        per_hour.setdefault((ep // 3600) * 3600, []).append(conc)
    expect = {h: (max(v), len(v)) for h, v in per_hour.items()}
    got = {
        int(r.hour_epoch): (int(r.max_concurrency), int(r.n_boundaries))
        for r in plans.QUERIES["ev_concurrency_sweep"](spark, SF).collect()
    }
    assert got == expect
    # conservation: the sweep must return to zero at the end
    assert conc == 0


def test_concurrency_sweep_plan_has_no_global_window(spark):
    """The scale claim, asserted mechanically: the physical plan's
    only Window partitions by the hour bucket — no SinglePartition
    exchange feeds a Window (the distributed-prefix-sum point). The
    one SinglePartition exchange gathers the per-hour totals (one row
    per hour, never per event) into the bucket-offsets aggregate."""
    df = plans.QUERIES["ev_concurrency_sweep"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    windows = [l for l in lines if "windowspecdefinition" in l]
    assert windows, "expected the within-bucket running-sum window"
    for line in windows:
        assert "windowspecdefinition(hour#" in line, line
    single = [
        i for i, l in enumerate(lines) if "Exchange SinglePartition" in l
    ]
    assert len(single) == 1, single
    # its consumer, the line above it: the scalar collect_list gather
    # of the per-hour partial aggregate feeding it from below
    assert "ObjectHashAggregate(keys=[]" in lines[single[0] - 1]
    assert "collect_list(" in lines[single[0] - 1]
    assert "partial_collect_list(" in lines[single[0] + 1]
