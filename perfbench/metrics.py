"""Metric catalogue: name -> (unit, better, what it should move).

BENCHMARK.json mirrors the names, units and directions; the "moves"
column (which end-to-end metric on which workload a layer metric should
move) lives here and in README.md because BENCHMARK.json has a fixed
schema.  tests/test_perfbench.py keeps the two in step.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# Reported by the one-command summary and carried as failed/attempted in
# every result line; not a gated metric because it is 0 on correct code.
FAILED_FRAC = ("failed_frac", "ratio")

TJ, IMG = "tile_join", "image_audit_resume"
# the kNN layer runs only in tile_join's traced probe; it moves no gated metric
KNN = ("none", (TJ,))

# name: (unit, better, (end-to-end metric it should move, on workloads))
PER_LAYER = {
    "sources.session_start_s": ("s", "lower", ("setup_s", (TJ, IMG))),
    "sources.images_gen_rows_per_s": ("1/s", "higher", ("setup_s", (IMG,))),
    "functions.encode_rows_per_s": ("1/s", "higher", ("rows_per_s", (TJ,))),
    "functions.python_run_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "functions.python_init_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "functions.python_bytes_sent": ("bytes", "lower", ("rows_per_s", (TJ,))),
    "kernels.cellid.encode_per_s": ("1/s", "higher", ("rows_per_s", (TJ,))),
    "kernels.cellid.neighbors_per_s": ("1/s", "higher", KNN),
    "kernels.predicates.contains_per_s": ("1/s", "higher", ("rows_per_s", (TJ,))),
    "kernels.coverer.covering_ms": ("ms", "lower", ("setup_s", (TJ,))),
    "kernels.imagecodec.decode_per_s": ("1/s", "higher", ("rows_per_s", (IMG,))),
    "tiling.tile_counts_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "density.salted_tile_counts_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "density.hot_tiles": ("count", "lower", ("rows_per_s", (TJ,))),
    "density.skew_max_over_mean": ("ratio", "lower", ("rows_per_s", (TJ,))),
    "contains_join.index_build_s": ("s", "lower", ("setup_s", (TJ,))),
    "contains_join.candidates_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "contains_join.exact_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "contains_join.candidate_pairs": ("count", "lower", ("rows_per_s", (TJ,))),
    "contains_join.hits": ("count", "higher", ("rows_per_s", (TJ,))),
    "contains_join.refine_precision": ("ratio", "higher", ("rows_per_s", (TJ,))),
    "knn.join_s": ("s", "lower", KNN),
    "knn.result_s": ("s", "lower", KNN),
    "knn.point_cells_l6": ("count", "lower", KNN),
    "knn.group_useful_ratio": ("ratio", "higher", KNN),
    "knn.stage1_certified_ratio": ("ratio", "higher", KNN),
    "knn.candidates_per_query": ("count", "lower", KNN),
    "image_pipeline.audit_rows_per_s": ("1/s", "higher", ("rows_per_s", (IMG,))),
    "image_pipeline.pip_s": ("s", "lower", ("rows_per_s", (IMG,))),
    "checkpoint.bucket_s": ("s", "lower", ("rows_per_s", (IMG,))),
    "checkpoint.resume_s": ("s", "lower", ("rows_per_s", (IMG,))),
    "checkpoint.redone_buckets": ("count", "lower", ("rows_per_s", (IMG,))),
    "checkpoint.bytes_written": ("bytes", "lower", ("rows_per_s", (IMG,))),
    "spark.jobs": ("count", "lower", ("rows_per_s", (TJ,))),
    "spark.tasks": ("count", "lower", ("rows_per_s", (TJ,))),
    "spark.executor_run_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "spark.executor_cpu_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "spark.shuffle_write_bytes": ("bytes", "lower", ("rows_per_s", (TJ,))),
    "spark.spill_bytes": ("bytes", "lower", ("rows_per_s", (TJ,))),
    "spark.gc_s": ("s", "lower", ("rows_per_s", (TJ,))),
    "spark.task_skew": ("ratio", "lower", ("rows_per_s", (TJ,))),
    "trace.overhead_frac": ("ratio", "lower", ("rows_per_s", (TJ, IMG))),
}
