"""Tests of the benchmark itself: inputs are seeded, and every output
check accepts an independently computed answer and rejects a perturbed
one, so that no check can pass vacuously.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs
from perfbench.run import tail
from perfbench.workloads import NeardupDedup, deltas_since_compact


def dropped(df: pd.DataFrame) -> pd.DataFrame:
    return df.drop(index=df.index[len(df) // 2]).reset_index(drop=True)


def altered(df: pd.DataFrame, col: str) -> pd.DataFrame:
    out = df.copy()
    i = out.index[len(out) // 2]
    out.loc[i, col] = out.loc[i, col] + 1 if out[col].dtype.kind in "iuf" else "x"
    return out


def test_inputs_are_seeded(tmp_path):
    a = inputs.documents_table(7, 300, 0.2, 0.05)
    assert a.equals(inputs.documents_table(7, 300, 0.2, 0.05))
    assert not a.equals(inputs.documents_table(8, 300, 0.2, 0.05))
    d1 = inputs.tile_inputs(str(tmp_path / "a"), 3, 2000, 100)
    d2 = inputs.tile_inputs(str(tmp_path / "b"), 3, 2000, 100)
    t1 = pq.read_table(f"{d1}/images.parquet")
    assert t1.equals(pq.read_table(f"{d2}/images.parquet"))
    assert t1.num_rows == 2000


def test_tail_rule():
    assert tail([float(i) for i in range(1, 21)]) == (10.0, 45.0, 20)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_deltas_since_compact():
    class Store:
        def __init__(self, ops):
            self.ops = ops

        def snapshots(self):
            return [{"op": op} for op in self.ops]

    # create writes an append snapshot; appends are not keyed deltas
    assert deltas_since_compact(Store(["append"])) == 0
    assert deltas_since_compact(Store(["append", "merge", "append", "delete"])) == 2
    assert deltas_since_compact(Store(["append", "merge", "compact"])) == 0
    assert deltas_since_compact(Store(["append", "merge", "compact", "merge", "append"])) == 1


def brute_force_tile(data_dir: str) -> pd.DataFrame:
    """Images per box by a numpy all-pairs containment test."""
    phash = pq.read_table(f"{data_dir}/images.parquet")["phash"].to_numpy()
    lat = np.clip((phash >> 31) / 4294967296.0 * 190.0 - 95.0, -90.0, 90.0)
    lon = (phash & 0x7FFFFFFF) / 2147483648.0 * 360.0 - 180.0
    k = pq.read_table(f"{data_dir}/customer.parquet")["c_custkey"].to_numpy()
    c_lat, c_lon = (k * 911 % 1700) / 10.0 - 85.0, (k * 541 % 3500) / 10.0 - 175.0
    s_lat, s_lon = (k % 40) / 10.0 + 0.05, (k % 37) / 10.0 + 0.05
    inside = ((lat[:, None] >= c_lat - s_lat) & (lat[:, None] <= c_lat + s_lat)
              & (lon[:, None] >= c_lon - s_lon) & (lon[:, None] <= c_lon + s_lon))
    n = inside.sum(axis=0)
    return pd.DataFrame({"box_id": k[n > 0], "n_images": n[n > 0]})


def test_tile_check(tmp_path):
    d = inputs.tile_inputs(str(tmp_path), 5, 4000, 400)
    expected = checks.tile_expected(d)
    assert len(expected) > 10
    assert checks.tile_expected(d).equals(expected)  # the kept answer, read back
    result = brute_force_tile(d).assign(n_tiles=1, n_s2=1)
    assert checks.tile_ok(result, expected)
    assert not checks.tile_ok(dropped(result), expected)
    assert not checks.tile_ok(altered(result, "n_images"), expected)


@pytest.fixture(scope="module")
def gate_answers(tmp_path_factory):
    w = NeardupDedup
    d = inputs.neardup_inputs(str(tmp_path_factory.mktemp("nd")), 1, w.N_DOCS, w.N_ORDERS,
                              w.N_VECTORS, w.NEAR_RATE, w.EXACT_RATE)
    return {g: checks.gate_expected(d, g) for g in w.GATES}


@pytest.mark.parametrize("gate", NeardupDedup.GATES)
def test_gate_check(gate_answers, gate):
    expected = gate_answers[gate]
    # the seeded near-duplicate rate gives every gate pairs to find
    assert len(expected) >= 5
    result = expected.sample(frac=1.0, random_state=0)  # same rows, another order
    assert checks.frames_equal(result, expected)
    assert not checks.frames_equal(dropped(result), expected)
    assert not checks.frames_equal(altered(result, result.columns[-1]), expected)


def lww_by_hand(base_dir: str, diffs) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Last-writer-wins in plain Python over the same tables."""
    rows, comments = {}, {}
    sources = [(pq.read_table(f"{base_dir}/changesets.parquet"),
                pq.read_table(f"{base_dir}/comments.parquet"))]
    sources += [(cs, cm) for _, cs, cm in diffs]
    for cs, cm in sources:
        ids = set()
        for r in cs.to_pylist():
            rows[r["id"]] = r
            ids.add(r["id"])
            comments[r["id"]] = []
        for c in cm.to_pylist():
            comments[c["comment_changeset_id"]].append(c)

    def us(ts):
        return int(ts.timestamp()) * 1_000_000 + ts.microsecond

    cs = pd.DataFrame([
        {**{k: r[k] for k in ("id", "user_id", "open", "num_changes", "user_name",
                              "min_lat", "max_lat", "min_lon", "max_lon")},
         "created_us": us(r["created_at"]), "closed_us": us(r["closed_at"]),
         "tags": ";".join(sorted(f"{k}={v}" for k, v in r["tags"]))}
        for r in rows.values()
    ])
    cm = pd.DataFrame([
        {"comment_changeset_id": c["comment_changeset_id"],
         "comment_user_id": c["comment_user_id"],
         "comment_user_name": c["comment_user_name"],
         "comment_us": us(c["comment_date"]), "comment_text": c["comment_text"]}
        for cl in comments.values() for c in cl
    ])
    return cs.astype({"num_changes": "int32"}), cm


def test_replication_check(tmp_path):
    n_base = 300
    base = inputs.replication_base(str(tmp_path), 2, n_base)
    diffs = [(s, *inputs.diff_tables(2, s, n_base, 60)) for s in (1, 2, 3)]
    want_cs, want_cm = checks.replication_expected(base, diffs)
    got_cs, got_cm = lww_by_hand(base, diffs)
    assert len(want_cs) == n_base + 3 * 24 and len(want_cm) > 0
    assert checks.frames_equal(got_cs, want_cs)
    assert checks.frames_equal(got_cm, want_cm)
    assert not checks.frames_equal(dropped(got_cs), want_cs)
    assert not checks.frames_equal(altered(got_cs, "num_changes"), want_cs)
    assert not checks.frames_equal(altered(got_cs, "tags"), want_cs)
    assert not checks.frames_equal(dropped(got_cm), want_cm)
    # a diff that was never applied leaves another state
    older_cs, _ = checks.replication_expected(base, diffs[:2])
    assert not checks.frames_equal(got_cs, older_cs)
