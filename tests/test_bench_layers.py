"""bench.run_suite's per-query layer record, at the test SF: one
tracing span per query, counters from perfbench/tracing.py."""

from __future__ import annotations

import bench
from perfbench import tracing


def test_suite_records_layer_counters_per_query(spark, sf_dir):
    names = ["groupby_count", "streaming_dedup"]
    wall, layers = bench.run_suite(spark, names, sf_dir)
    assert list(layers) == names
    assert wall >= sum(rec["s"] for rec in layers.values())
    counter_keys = set(tracing.exec_counters(spark, 0, 0))
    for name, rec in layers.items():
        assert {"build_s", "build_jobs", "exec_s", "codegen_compiles",
                "codegen_ms"} | counter_keys <= set(rec), name
        assert rec["jobs"] > 0 and rec["cpu_ms"] > 0, name
        assert 0 <= rec["build_jobs"] <= rec["jobs"], name
        assert rec["codegen_compiles"] >= 0 and rec["codegen_ms"] >= 0, name
    batch, stream = layers["groupby_count"], layers["streaming_dedup"]
    # each query owns its own job-id range
    assert batch["job_hi"] <= stream["job_lo"]
    assert batch["jobs"] == batch["job_hi"] - batch["job_lo"]
    assert stream["batches"] > 0
    # the stream runs inside the build call, so its batches' jobs are
    # build jobs
    assert stream["build_jobs"] > 0
    assert "batches" not in batch
    # a rerun finds every generated class in the session's codegen cache
    _, again = bench.run_suite(spark, ["groupby_count"], sf_dir)
    assert again["groupby_count"]["codegen_compiles"] == 0
    assert again["groupby_count"]["codegen_ms"] == 0
