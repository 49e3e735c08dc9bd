#!/usr/bin/env python
"""Per-stage job attribution for llm_corpus_pipeline's build side.

VERDICT r11 #1: 71 eager builder jobs ~= 96% of the query's bench wall.
This instrument wraps the composite's eager boundaries (the two
localCheckpoints, the persists, and each BPE argmax collect) and prints
the Spark-job count each one contributes, so the cut can target the
real spenders instead of guessing. Counts jobs by diffing the core
AppStatusStore's job ids (sees all job groups).

Usage: python tools/profile_llm_corpus.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from movies_etl_spark.session import get_spark  # noqa: E402
from movies_etl_spark.operators import bpe, caching  # noqa: E402
from movies_etl_spark.plans import registry  # noqa: E402
import __spark_entry__  # noqa: E402,F401

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)


def main() -> None:
    spark = get_spark()

    def max_job_id() -> int:
        jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        n = jobs.size()
        if n == 0:
            return -1
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId())

    marks: list[tuple[str, int, float]] = []
    t_start = [time.perf_counter()]
    last = [max_job_id()]

    def mark(label: str) -> None:
        now_id, now_t = max_job_id(), time.perf_counter()
        marks.append((label, now_id - last[0], now_t - t_start[0]))
        last[0] = now_id
        t_start[0] = now_t

    orig_ckpt = caching.tracked_local_checkpoint
    orig_persist = caching.tracked_persist
    n_ckpt = [0]
    n_persist = [0]

    def ckpt(df, eager=True):
        mark(f"(before checkpoint #{n_ckpt[0]})")
        out = orig_ckpt(df, eager=eager)
        n_ckpt[0] += 1
        mark(f"localCheckpoint #{n_ckpt[0]}")
        return out

    def persist(df):
        out = orig_persist(df)
        n_persist[0] += 1
        return out

    orig_train = bpe.bpe_train_with_vocab

    def train(spark_, wc, n_merges=8, *args, **kwargs):
        # pass-through signature (ADVICE r12): the wrapped function has
        # grown cap parameters; swallowing them here would profile a
        # DIFFERENT training configuration than the query runs (or
        # TypeError on callers passing them positionally)
        mark("(before bpe_train)")
        out = orig_train(spark_, wc, n_merges, *args, **kwargs)
        mark(f"bpe_train_with_vocab ({n_merges} merges)")
        return out

    caching.tracked_local_checkpoint = ckpt
    caching.tracked_persist = persist
    bpe.bpe_train_with_vocab = train
    try:
        fn = registry.QUERIES["llm_corpus_pipeline"]
        t0 = time.perf_counter()
        j0 = max_job_id()
        df = fn(spark, SF_DIR)
        mark("(builder tail)")
        build_jobs, build_sec = max_job_id() - j0, time.perf_counter() - t0
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_sec = time.perf_counter() - t1
        exec_jobs = max_job_id() - j0 - build_jobs
    finally:
        caching.tracked_local_checkpoint = orig_ckpt
        caching.tracked_persist = orig_persist
        bpe.bpe_train_with_vocab = orig_train

    print(f"\n== stage attribution (sf_dir={SF_DIR}) ==")
    for label, jobs, sec in marks:
        print(f"{label:40s} {jobs:4d} jobs  {sec:7.3f} s")
    print(
        f"\nTOTAL build {build_jobs} jobs / {build_sec:.2f} s"
        f"   exec {exec_jobs} jobs / {exec_sec:.2f} s"
        f"   (persists registered: {n_persist[0]})"
    )


if __name__ == "__main__":
    main()
