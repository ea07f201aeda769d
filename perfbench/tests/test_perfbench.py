"""The benchmark's own tests: metric catalogue vs BENCHMARK.json, each
oracle rejecting a deliberately altered result, and tiny-size smoke runs
of the real command.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from perfbench import inputs, metrics, oracles

ROOT = Path(__file__).resolve().parents[2]


# ---------- catalogue ----------


def test_benchmark_json_matches_catalogue():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()
    }
    assert [w["name"] for w in bench["workloads"]] == list(
        __import__("perfbench.run", fromlist=["WORKLOADS"]).WORKLOADS
    )


# ---------- oracles reject altered results ----------


def test_tile_count_oracle_rejects_altered_counts():
    pts = inputs.hotspot_points(7, 2_000)
    exp = oracles.tile_counts(pts["lat"], pts["lng"], 5)
    got = exp.rename(columns={"cell": "cell_l5"})
    assert oracles.check_tile_counts(got, exp, "t") == []
    dropped = got.iloc[1:]
    assert oracles.check_tile_counts(dropped, exp, "t")
    bumped = got.copy()
    bumped.loc[0, "cnt"] += 1
    assert oracles.check_tile_counts(bumped, exp, "t")


def test_pip_oracle_rejects_dropped_join_row():
    pts = inputs.hotspot_points(7, 20_000)
    specs = inputs.polygon_specs(7, 4, 2)
    xyz = np.stack([pts["x"], pts["y"], pts["z"]], axis=1)
    exp = oracles.pip_pairs(xyz, pts["pid"], specs)
    assert exp, "the hot spots should put points inside some region"
    got = pd.DataFrame(sorted(exp), columns=["pid", "poly_id"])
    assert oracles.check_pip(got, exp, "pip") == []
    assert oracles.check_pip(got.iloc[1:], exp, "pip")
    assert oracles.check_pip(pd.concat([got, got.iloc[:1]]), exp, "pip")


def test_knn_oracle_rejects_changed_rank():
    k = 4
    points, queries = inputs.knn_points(7, 4_000, 20)
    qids = queries["qid"]
    exp = oracles.knn_topk(points, queries, qids, k)
    rows = [
        (q, r + 1, pid, d)
        for q, (pids, ds) in exp.items()
        for r, (pid, d) in enumerate(zip(pids, ds))
    ]
    got = pd.DataFrame(rows, columns=["qid", "rank", "pid", "dist_chord2"])
    assert oracles.check_knn(got, exp, len(qids), k) == []
    swapped = got.copy()
    i, j = swapped.index[(swapped["qid"] == qids[0]) & (swapped["rank"] <= 2)]
    swapped.loc[[i, j], "pid"] = swapped.loc[[j, i], "pid"].to_numpy()
    assert oracles.check_knn(swapped, exp, len(qids), k)
    assert oracles.check_knn(got.iloc[:-1], exp, len(qids), k)


def _audit_frames():
    single = pd.DataFrame(
        {
            "cell_l4": [11, 13, 15],
            "n_images": [3, 2, 1],
            "n_violations": [0, 0, 0],
            "total_px": [300, 200, 100],
            "avg_luma": [10.0, 20.0, 30.0],
        }
    )
    # the same tiles split over two buckets
    per_bucket = pd.DataFrame(
        {
            "cell_l4": [11, 11, 13, 15],
            "n_images": [1, 2, 2, 1],
            "n_violations": [0, 0, 0, 0],
            "total_px": [100, 200, 200, 100],
            "avg_luma": [10.0, 10.0, 20.0, 30.0],
        }
    )
    lineage = [{"bucket": b, "status": "done"} for b in range(4)]
    return single, per_bucket, lineage


def test_image_oracle_rejects_missing_bucket_and_altered_tiles():
    single, per_bucket, lineage = _audit_frames()
    merged = oracles.merge_bucket_tiles(per_bucket, "cell_l4")
    assert oracles.check_image_audit(merged, single, lineage, 6, 4, "cell_l4") == []
    assert oracles.check_image_audit(merged, single, lineage[:-1], 6, 4, "cell_l4")
    assert oracles.check_image_audit(merged, single, lineage + lineage[:1], 6, 4, "cell_l4")
    short = oracles.merge_bucket_tiles(per_bucket.iloc[1:], "cell_l4")
    assert oracles.check_image_audit(short, single, lineage, 6, 4, "cell_l4")
    bad = merged.copy()
    bad.loc[0, "n_violations"] = 1
    assert oracles.check_image_audit(bad, single, lineage, 6, 4, "cell_l4")


# ---------- smoke runs of the real command (Spark, about a minute each) ----------


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


def test_smoke_summary_prints_every_end_to_end_metric_with_unit():
    p = _run("--size", "tiny", "--seconds", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [line.split() for line in p.stdout.splitlines() if line.strip()]
    seen = {(w, name): (float(v), unit) for w, name, v, unit in lines}
    for w in ("tile_join", "image_audit_resume"):
        for name, (unit, _) in metrics.END_TO_END.items():
            assert seen[(w, name)][1] == unit
            assert seen[(w, name)][0] > 0
        assert seen[(w, "failed_frac")] == (0.0, "ratio")


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_result_line(trace):
    p = _run("--workload", "tile_join", "--seed", "3", "--seconds", "1", "--trace", trace, "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = metrics.END_TO_END if trace == "0" else metrics.PER_LAYER
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {k: v[0] for k, v in want.items()}
