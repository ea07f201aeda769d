"""Checkpoint-resumable runs with per-partition lineage + metrics.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics".  The reference has no such machinery (in-memory
library); this is the Spark-native design from SURVEY.md §4.3:

* the job is split into deterministic WORK UNITS (hash buckets of a key,
  or cell-prefix shards from the density tree);
* each unit's output lands under ``<out>/data/bucket=<k>/`` (the layout
  an Iceberg partitioned table would give; plain parquet here because the
  Iceberg runtime jar is not in the sandbox — the commit protocol below
  is exactly an Iceberg MERGE/append per partition);
* a ``_partitions`` manifest records per-unit lineage: bucket id, row
  count (read from the written Parquet footers), wall seconds, rows/sec,
  attempt, status — appended and fsynced after the unit's data is fully
  written (write-then-manifest ordering makes the resume idempotent: a
  crash between the two re-runs the unit);
* a manifest line that does not parse (a torn append: killed mid-write,
  or a full disk) is an uncommitted record, so its unit re-runs;
* resume = anti-join pending units against the manifest.

Driving a run at two parallelism levels over the same units is also how
the scaling-efficiency evidence is produced (bench.py --scaling).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_partitions.jsonl"
RUNS = "_runs.jsonl"


class CheckpointedRun:
    def __init__(self, out_dir: str, n_buckets: int = 16, run_id: str = "run0"):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.run_id = run_id
        os.makedirs(os.path.join(out_dir, "data"), exist_ok=True)

    # ---- manifest (lineage) ----

    def _manifest_path(self) -> str:
        return os.path.join(self.out_dir, MANIFEST)

    def completed_buckets(self) -> set[int]:
        return {r["bucket"] for r in self.lineage() if r.get("status") == "done"}

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    def _append_manifest(self, rec: dict) -> None:
        # single-writer driver append, durable before the next unit starts;
        # a torn last line gets its own line so this record stays parseable
        with open(self._manifest_path(), "a+b") as f:
            if f.seek(0, os.SEEK_END):
                f.seek(-1, os.SEEK_END)
                if f.read(1) != b"\n":
                    f.write(b"\n")
            f.write(json.dumps(rec).encode() + b"\n")
            f.flush()
            os.fsync(f.fileno())

    def lineage(self) -> list[dict]:
        """Committed manifest records; a line that does not parse is a
        torn (uncommitted) append and is skipped."""
        path = self._manifest_path()
        if not os.path.exists(path):
            return []
        recs = []
        with open(path) as f:
            for line in f:
                try:
                    recs.append(json.loads(line))
                except ValueError:
                    pass
        return recs

    # ---- execution ----

    def bucket_filter(self, df: DataFrame, key_col: str, bucket: int) -> DataFrame:
        """Deterministic unit membership: xxhash64 bucket of the key.

        Pushed into the scan as a filter; on a bucketed/partitioned table
        this prunes files instead of scanning + filtering.
        """
        return df.where(
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(self.n_buckets)) == bucket
        )

    def run(
        self,
        spark: SparkSession,
        make_unit: Callable[[SparkSession, int], DataFrame],
        max_buckets: int | None = None,
    ) -> list[dict]:
        """Process pending units; returns the lineage rows written.

        ``make_unit(spark, bucket)`` returns the unit's result DataFrame.
        ``max_buckets`` limits this invocation (used to simulate a crash
        in tests and to spread a giant backlog over multiple driver runs).
        """
        written = []
        t_run = time.time()
        # real attempt lineage: prior manifest rows for a bucket are earlier
        # tries; an orphaned data dir with NO manifest row is a crash between
        # data write and manifest append (also an earlier try).
        prior_attempts: dict[int, int] = {}
        for rec in self.lineage():
            prior_attempts[rec["bucket"]] = prior_attempts.get(rec["bucket"], 0) + 1
        pending = self.pending_buckets()
        if max_buckets is not None:
            pending = pending[:max_buckets]
        for b in pending:
            t0 = time.time()
            out = os.path.join(self.out_dir, "data", f"bucket={b}")
            attempt = prior_attempts.get(b, 0) + 1
            if b not in prior_attempts and os.path.exists(out):
                attempt += 1  # orphaned partial write from a crashed attempt
            df = make_unit(spark, b)
            df.write.mode("overwrite").parquet(out)  # idempotent re-attempt
            rows = sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{out}/*.parquet"))
            wall = time.time() - t0
            rec = {
                "run_id": self.run_id,
                "bucket": b,
                "rows": rows,
                "wall_s": round(wall, 3),
                "rows_per_sec": round(rows / wall, 1) if wall > 0 else 0.0,
                "attempt": attempt,
                "status": "done",
            }
            self._append_manifest(rec)
            written.append(rec)
        with open(os.path.join(self.out_dir, RUNS), "a") as f:
            f.write(
                json.dumps(
                    {
                        "run_id": self.run_id,
                        "buckets_done": len(written),
                        "wall_s": round(time.time() - t_run, 3),
                        "parallelism": spark.sparkContext.defaultParallelism,
                    }
                )
                + "\n"
            )
        return written

    def result(self, spark: SparkSession) -> DataFrame:
        """Union of all completed units (partition-pruned parquet read)."""
        return spark.read.parquet(os.path.join(self.out_dir, "data"))
