"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` builds the engine's star schema (region nation
  customer supplier part orders lineitem events documents embeddings)
  as one single-row-group parquet file per table, with the same
  column names, types and value domains as the engine's test data.
  Row counts follow the scale factor the same way (lineitem = 6M x sf).
* ``ChangeFeed`` generates CDC batches in ``cdc_apply.CHANGES_SCHEMA``
  (Zipf-skewed keys, an insert/update/delete mix, versions unique and
  increasing across batches) and keeps the latest-wins reference the
  serving reads are checked against.

Everything is a pure function of its seed, so the same seed gives the
same bytes.

    python3 perfbench/datagen.py SF_DIR SF

compares the generated tables for scale factor SF with the test data in
SF_DIR: schema (names, types, timestamp unit), row and row-group counts,
NULL counts, and per column the distinct count, minimum and maximum.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["red", "old", "cold", "hot", "large", "small", "blue", "new"]
NOUNS = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the fast slow big small spark line customer group value hash batch"
    " sort data filter dup row query stream key agg scan table part merge"
    " window order column join vector"
).split()

DAY_US = 86_400 * 1_000_000


def _ts(start: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + us.astype(np.int64), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    table = pa.table(cols)
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(table.num_rows, 1),
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write all ten tables for scale factor ``sf`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    partkeys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(partkeys),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (partkeys % 1000) * 0.1, 2)),
    })
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, span_days, n_ord) * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, span_days + 94, n_line) * DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = []
    words = np.asarray(WORDS, dtype=object)
    for _ in range(n_doc):
        if texts and rng.random() < 0.0016:  # exact duplicates, as in the test data
            texts.append(texts[int(rng.integers(0, len(texts)))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def ensure_tables(root: str, sf: float, seed: int) -> str:
    """Return the directory holding the tables for (sf, seed),
    generating it first if absent. Generation writes to a private
    directory and renames it into place, so a half-written set is
    never picked up."""
    final = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(tmp, sf, seed)
    try:
        os.rename(tmp, final)
    except OSError:  # another process won the rename
        shutil.rmtree(tmp, ignore_errors=True)
    return final


class ChangeFeed:
    """Seeded CDC batches over ``n_keys`` Zipf-skewed keys.

    Each batch holds ``batch_size`` changes with versions unique and
    increasing across the whole feed; ops are 60 % update, 25 % insert,
    15 % delete. ``live`` is the latest-wins reference: key -> (n_changes,
    last_version, last_qv) for keys whose last op is not a delete.
    """

    def __init__(self, seed: int, n_keys: int, batch_size: int, zipf_a: float = 1.2):
        self.rng = np.random.default_rng(seed)
        self.n_keys = n_keys
        self.batch_size = batch_size
        self.zipf_a = zipf_a
        # Zipf ranks mapped through a fixed permutation, so hot keys
        # are spread over the key space rather than clustered at 0.
        self.perm = self.rng.permutation(n_keys).astype(np.int64)
        self.next_version = 1
        self.state: dict[int, list] = {}  # key -> [n_changes, version, op, qv]
        self.bytes_written = 0

    def _keys(self, n: int) -> np.ndarray:
        ranks = self.rng.zipf(self.zipf_a, n) - 1
        return self.perm[ranks % self.n_keys]

    def write_batch(self, path: str) -> None:
        n = self.batch_size
        keys = self._keys(n)
        versions = np.arange(self.next_version, self.next_version + n, dtype=np.int64)
        self.next_version += n
        ops = np.asarray(["U", "I", "D"], dtype=object)[
            self.rng.choice(3, n, p=[0.60, 0.25, 0.15])
        ]
        qv = self.rng.integers(0, 1_000_000, n, dtype=np.int64)
        table = pa.table({
            "key": pa.array(keys), "version": pa.array(versions),
            "op": pa.array(ops, pa.string()), "qv": pa.array(qv),
        })
        tmp = path + ".tmp"
        pq.write_table(table, tmp)
        os.rename(tmp, path)  # the stream source must never see a partial file
        self.bytes_written += os.path.getsize(path)
        for k, v, o, q in zip(keys.tolist(), versions.tolist(), ops.tolist(), qv.tolist()):
            cur = self.state.get(k)
            if cur is None:
                self.state[k] = [1, v, o, q]
            else:  # versions only grow, so the newest change wins
                cur[0] += 1
                cur[1], cur[2], cur[3] = v, o, q

    def live_count(self) -> int:
        return sum(1 for s in self.state.values() if s[2] != "D")

    def live(self, key: int):
        """(n_changes, last_version, last_value) for a live key, else None."""
        s = self.state.get(key)
        if s is None or s[2] == "D":
            return None
        return (s[0], s[1], s[3] / 100.0)

    def lookup_keys(self, n: int) -> list[int]:
        """Seed-chosen lookup keys, drawn with the same skew as writes."""
        return sorted(set(self._keys(n).tolist()))


def _profile(path: str) -> dict:
    import pyarrow.compute as pc

    f = pq.ParquetFile(path)
    t = f.read()
    cols = {}
    for name in t.column_names:
        col = t[name]
        stats = {"nulls": col.null_count}
        if not pa.types.is_list(col.type):
            stats.update(distinct=pc.count_distinct(col).as_py(),
                         min=pc.min(col).as_py(), max=pc.max(col).as_py())
        cols[name] = stats
    return {"schema": t.schema.remove_metadata(), "rows": t.num_rows,
            "row_groups": f.metadata.num_row_groups, "cols": cols}


def compare(real_dir: str, gen_dir: str) -> list[str]:
    """One line per table and column; lines for mismatches in schema,
    row or row-group count, or NULL count start with ``DIFF``."""
    out = []
    for name in sorted(os.listdir(real_dir)):
        real = _profile(os.path.join(real_dir, name))
        gen = _profile(os.path.join(gen_dir, name))
        same = (real["schema"].equals(gen["schema"]) and real["rows"] == gen["rows"]
                and real["row_groups"] == gen["row_groups"])
        out.append(f"{'' if same else 'DIFF '}{name}: rows {real['rows']} / {gen['rows']},"
                   f" row groups {real['row_groups']} / {gen['row_groups']},"
                   f" schema {'equal' if real['schema'].equals(gen['schema']) else 'differs'}")
        for col, r in real["cols"].items():
            g = gen["cols"].get(col, {})
            flag = "" if r["nulls"] == g.get("nulls") else "DIFF "
            out.append(f"  {flag}{col} ({real['schema'].field(col).type}): "
                       + ", ".join(f"{k} {r[k]} / {g.get(k)}" for k in r))
    return out


if __name__ == "__main__":
    real_dir, sf = sys.argv[1], float(sys.argv[2])
    gen_dir = ensure_tables(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".perfbench", "data"), sf, 42)
    print(f"test data {real_dir} / generated {gen_dir}")
    lines = compare(real_dir, gen_dir)
    print("\n".join(lines))
    sys.exit(1 if any(line.lstrip().startswith("DIFF") for line in lines) else 0)
