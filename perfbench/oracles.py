"""Independent oracles.  Each ``check_*`` takes a result the program
produced (as pandas / plain Python) plus the benchmark's own inputs, and
returns a list of human-readable problems — empty when the result is
correct.  None of them touches Spark, so they run outside the timed
region and can be fed deliberately altered results in the tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from s2geometry_spark.kernels import cellid, predicates


def tile_counts(lat: np.ndarray, lng: np.ndarray, level: int) -> pd.DataFrame:
    """(cell, cnt) per tile, from the NumPy encode kernel and np.unique."""
    leaf = cellid.from_latlng_degrees(lat, lng)
    cells, cnt = np.unique(cellid.to_biased(cellid.parent(leaf, level)), return_counts=True)
    return pd.DataFrame({"cell": cells.astype(np.int64), "cnt": cnt.astype(np.int64)})


def as_tiles(df: pd.DataFrame) -> pd.DataFrame:
    """Two-column (tile, count) result as sorted int64 (cell, cnt)."""
    out = df.copy()
    out.columns = ["cell", "cnt"]
    return out.astype(np.int64).sort_values("cell").reset_index(drop=True)


def check_tile_counts(got: pd.DataFrame, expected: pd.DataFrame, what: str) -> list[str]:
    """``got`` has two columns (tile cell, count) in that order."""
    g = as_tiles(got)
    if len(g) != len(expected):
        return [f"{what}: {len(g)} tiles, expected {len(expected)}"]
    if not g.equals(expected):
        bad = int((g != expected).any(axis=1).sum())
        return [f"{what}: {bad} tiles differ from the oracle"]
    return []


def pip_pairs(xyz: np.ndarray, ids: np.ndarray, specs) -> set[tuple]:
    """Brute-force (point id, region id) containment pairs: every point
    inside a region's bounding cap goes through the parity kernel."""
    pairs = set()
    for spec in specs:
        near = np.nonzero(xyz @ spec.center_xyz() >= spec.bounding_cos())[0]
        if len(near) == 0:
            continue
        region = spec.region()
        loops = region.loops if hasattr(region, "loops") else [region]
        inside = predicates.polygon_contains_points(
            [lp.vertices for lp in loops], [lp.origin_inside for lp in loops], xyz[near]
        )
        pairs.update((i, spec.rid) for i in ids[near[inside]].tolist())
    return pairs


def check_pip(got: pd.DataFrame, expected: set, what: str) -> list[str]:
    """``got`` has columns (point id, poly_id)."""
    got_pairs = set(zip(got.iloc[:, 0].tolist(), got["poly_id"].tolist()))
    if len(got_pairs) != len(got):
        return [f"{what}: {len(got) - len(got_pairs)} duplicate pairs"]
    missing, extra = expected - got_pairs, got_pairs - expected
    if missing or extra:
        return [f"{what}: {len(missing)} pairs missing, {len(extra)} unexpected"]
    return []


def knn_topk(points: dict, queries: dict, qids: np.ndarray, k: int) -> dict[int, tuple]:
    """Exact top-k per sampled query: chord^2 in the program's pinned
    ((dx²+dy²)+dz²) order, ties broken by smaller pid."""
    P = np.stack([points["px"], points["py"], points["pz"]], axis=1)
    pid = points["pid"]
    qpos = {int(q): i for i, q in enumerate(queries["qid"])}
    out = {}
    for q in qids.tolist():
        i = qpos[q]
        dx = queries["qx"][i] - P[:, 0]
        dy = queries["qy"][i] - P[:, 1]
        dz = queries["qz"][i] - P[:, 2]
        d = (dx * dx + dy * dy) + dz * dz
        order = np.lexsort((pid, d))[:k]
        out[q] = (tuple(pid[order].tolist()), tuple(d[order].tolist()))
    return out


def check_knn(got: pd.DataFrame, expected: dict, n_queries: int, k: int) -> list[str]:
    """``got`` has columns qid, rank, pid, dist_chord2."""
    problems = []
    if len(got) != n_queries * k:
        problems.append(f"knn: {len(got)} rows, expected {n_queries * k}")
    sample = got[got["qid"].isin(list(expected))].sort_values(["qid", "rank"])
    bad = 0
    for q, grp in sample.groupby("qid"):
        want_pids, want_d = expected[int(q)]
        if (
            grp["rank"].tolist() != list(range(1, k + 1))
            or tuple(grp["pid"].tolist()) != want_pids
            or tuple(grp["dist_chord2"].tolist()) != want_d
        ):
            bad += 1
    bad += len(expected) - sample["qid"].nunique()
    if bad:
        problems.append(f"knn: {bad} of {len(expected)} sampled queries differ")
    return problems


def merge_bucket_tiles(df: pd.DataFrame, cell_col: str) -> pd.DataFrame:
    """Fold per-bucket fused_tile_audit rows into one row per tile."""
    d = df.assign(_luma_sum=df["avg_luma"] * df["n_images"])
    g = d.groupby(cell_col, as_index=False)[
        ["n_images", "n_violations", "total_px", "_luma_sum"]
    ].sum()
    g["avg_luma"] = g["_luma_sum"] / g["n_images"]
    return g.drop(columns="_luma_sum").sort_values(cell_col).reset_index(drop=True)


def check_image_audit(
    merged: pd.DataFrame,
    single_pass: pd.DataFrame,
    lineage: list[dict],
    n_images: int,
    n_buckets: int,
    cell_col: str,
) -> list[str]:
    """Checkpointed-and-resumed audit vs. one un-checkpointed pass."""
    problems = []
    if int(merged["n_violations"].sum()) != 0:
        problems.append(f"images: {int(merged['n_violations'].sum())} invariant violations")
    if int(merged["n_images"].sum()) != n_images:
        problems.append(f"images: {int(merged['n_images'].sum())} rows, expected {n_images}")
    done = [r["bucket"] for r in lineage if r.get("status") == "done"]
    if sorted(done) != list(range(n_buckets)):
        problems.append(f"images: buckets marked done {sorted(done)}, expected each of 0..{n_buckets - 1} once")
    ref = single_pass.sort_values(cell_col).reset_index(drop=True)
    m = merged.reset_index(drop=True)
    int_cols = [cell_col, "n_images", "n_violations", "total_px"]
    if len(m) != len(ref) or not m[int_cols].astype(np.int64).equals(ref[int_cols].astype(np.int64)):
        problems.append("images: merged bucket tiles differ from the single-pass audit")
    elif not np.allclose(m["avg_luma"], ref["avg_luma"], rtol=1e-9, atol=1e-9):
        problems.append("images: merged avg_luma differs from the single-pass audit")
    return problems
