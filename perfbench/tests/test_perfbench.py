"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen_etl  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SMALL_ETL = dict(n_wiki=400, n_kaggle=600, n_ratings=5_000)


def _same_files(a, b, names) -> bool:
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


def test_etl_inputs_repeat_per_seed(tmp_path):
    one = gen_etl.generate(7, str(tmp_path / "a"), **SMALL_ETL)
    two = gen_etl.generate(7, str(tmp_path / "b"), **SMALL_ETL)
    other = gen_etl.generate(8, str(tmp_path / "c"), **SMALL_ETL)
    names = ["wiki.json", "kaggle.csv", "ratings.csv"]
    assert _same_files(tmp_path / "a", tmp_path / "b", names)
    assert one["truth"] == two["truth"]
    for name in names:
        assert not filecmp.cmp(tmp_path / "a" / name, tmp_path / "c" / name,
                               shallow=False)


def test_table_inputs_repeat_per_seed(tmp_path):
    gen_tables.write_tables(3, str(tmp_path / "a"))
    gen_tables.write_tables(3, str(tmp_path / "b"))
    gen_tables.write_tables(4, str(tmp_path / "c"))
    names = [f"{t}.parquet" for t in gen_tables.TABLES]
    assert _same_files(tmp_path / "a", tmp_path / "b", names)
    random_tables = [n for n in names if not n.startswith(("region", "nation"))]
    for name in random_tables:
        assert not filecmp.cmp(tmp_path / "a" / name, tmp_path / "c" / name,
                               shallow=False)


def test_etl_inputs_follow_the_mess_spec(tmp_path):
    out = gen_etl.generate(1, str(tmp_path), **SMALL_ETL)
    with open(out["paths"]["wiki"]) as f:
        records = json.load(f)
    keys = set().union(*records)
    assert {"Directed by", "Director", "Box office", "Budget", "No. of episodes",
            "Length", "Productioncompany ", "Productioncompanies "} <= keys
    assert any(isinstance(r.get("Box office"), list) for r in records)
    assert any("imdb_link" not in r for r in records)
    kaggle = pd.read_csv(out["paths"]["kaggle"], dtype=str, keep_default_na=False)
    # the real file writes these as decimal text
    assert kaggle["revenue"].str.endswith(".0").all()
    assert kaggle["runtime"].str.endswith(".0").all()
    assert set(kaggle["adult"]) >= {"False"}
    truth = out["truth"]
    assert truth["wiki_raw"] > truth["wiki_after_filter"] > truth["wiki_after_dedup"]
    assert truth["kaggle_raw"] >= truth["kaggle_after_filter"]
    assert len(truth["movie_imdb_ids"]) == truth["movies"] > 0
    ratings = pd.read_csv(out["paths"]["ratings"])
    assert len(ratings) == truth["ratings"]
    planted = sum(sum(v) for v in truth["rating_buckets"].values())
    joined = {int(k) for k in truth["rating_buckets"]}
    assert planted == int(ratings["movieId"].isin(joined).sum())


def _movies_ratings(tmp_path, truth) -> str:
    rows = {"imdb_id": [], "kaggle_id": []}
    for col in checks.RATING_COLUMNS:
        rows[col] = []
    imdb = iter(truth["movie_imdb_ids"])
    for key, counts in truth["rating_buckets"].items():
        rows["imdb_id"].append(next(imdb))
        rows["kaggle_id"].append(int(key))
        for col, c in zip(checks.RATING_COLUMNS, counts):
            rows[col].append(float(c) if sum(counts) else None)
    path = tmp_path / "movies_ratings"
    path.mkdir()
    pq.write_table(pa.table(rows), path / "part-0.parquet")
    return str(path)


def test_checker_accepts_planted_truth_and_rejects_a_wrong_count(tmp_path):
    import duckdb

    truth = gen_etl.generate(2, str(tmp_path / "in"), **SMALL_ETL)["truth"]
    con = duckdb.connect()
    good = _movies_ratings(tmp_path, truth)
    assert checks.check_table("movies_ratings", con, good, truth) is None

    key = next(k for k, v in truth["rating_buckets"].items() if sum(v))
    wrong = json.loads(json.dumps(truth))
    wrong["rating_buckets"][key][3] += 1
    reason = checks.check_table("movies_ratings", con, good, wrong)
    assert reason is not None and key in reason

    fewer = dict(truth, movies=truth["movies"] + 1)
    assert "rows" in checks.check_table("movies_ratings", con, good, fewer)


def test_bucket_check_requires_sum_equal_to_ratings_count():
    planted = {"5": [1, 0, 0, 0, 0, 0, 0, 0, 0, 2]}
    assert checks.check_rating_buckets({5: [1, 0, 0, 0, 0, 0, 0, 0, 0, 2]}, planted) is None
    assert checks.check_rating_buckets({5: [1, 0, 0, 0, 0, 0, 0, 0, 0, 1]}, planted)
    assert checks.check_rating_buckets({5: [None] * 10}, {"5": [0] * 10}) is None
    assert checks.check_rating_buckets({5: [0.0] * 10}, {"5": [0] * 10})


def test_oracle_comparison_is_order_insensitive_and_exact():
    got = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    want = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
    assert checks.compare_frames(got, want) is None
    assert "values differ" in checks.compare_frames(
        got, pd.DataFrame({"a": ["x", "y"], "b": [1, 3]}))
    assert "row count" in checks.compare_frames(got, want.head(1))
    assert "columns" in checks.compare_frames(got, want.rename(columns={"b": "c"}))


def _span(i, parent, start, end, jobs=(0, 0)):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "job_lo": jobs[0], "job_hi": jobs[1]}


def test_span_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, None, 0.0, 10.0, (0, 10)),
        _span(1, 0, 1.0, 3.0, (1, 3)),
        _span(2, 0, 2.0, 5.0, (3, 4)),   # overlaps span 1: [1, 5] covered
        _span(3, 0, 7.0, 8.0),
        _span(4, 2, 2.5, 3.5, (3, 4)),   # grandchild: not subtracted from 0
    ]
    selfs = tracing.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0 - 1.0)
    assert selfs[4] == pytest.approx(1.0)
    jobs = tracing.self_jobs(spans)
    assert jobs[0] == 10 - 2 - 1
    assert jobs[2] == 0


def test_sql_metric_text_parsing():
    assert tracing.metric_value("647 ms") == 647
    assert tracing.metric_value("23.8 KiB") == pytest.approx(23.8 * 1024)
    assert tracing.metric_value("9,546") == 9546
    text = "total (min, med, max (stageId: taskId))\n3.3 s (542 ms, 1.0 s, 1.1 s (stage 4.0: task 4))"
    assert tracing.metric_value(text) == pytest.approx(3300)


def test_pass_estimate_sums_per_operation_medians():
    passes = [{"op_cost": {"a": (1.0, 2.0), "b": (5.0, 1.0)}},
              {"op_cost": {"a": (3.0, 2.0), "b": (1.0, 1.0)}},
              {"op_cost": {"a": (2.0, 4.0), "b": (2.0, 3.0)}}]
    run_s, cpu_s, per_op = run.pass_estimate(passes)
    assert run_s == [pytest.approx(4.0)] and cpu_s == [pytest.approx(3.0)]
    assert per_op == {"a": 2.0, "b": 2.0}
    assert run.pass_estimate([]) == ([], [], {})


def test_output_records_run_facts(tmp_path, capsys):
    args = argparse.Namespace(workload="batch_queries", seed=9, seconds=1.0, trace=0)
    root = os.path.dirname(BENCH)
    bench = run.Bench(args, root, 0.0)
    bench.results_dir = str(tmp_path)
    bench.nproc, bench.master, bench.spark_version = 4, "local[4]", "4.1.2"
    bench.shape = {"lineitem": 60_000}
    bench.attempted = 2
    passes = [{"ok": True, "wall_s": 1.5, "op_cost": {"q": (1.4, 3.0)},
               "peak_rss_mb": 900.0, "out_bytes": 0}]
    result, code = bench.report(12.0, 5.0, passes, [])
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {"run_s", "setup_s", "cpu_s", "peak_rss_mb"}
    assert result["metrics"]["run_s"] == {"value": 1.4, "unit": "s"}
    line = capsys.readouterr().out.strip().splitlines()[-1]
    detail = json.loads(line[len("perfbench detail: "):])
    for key in ("nproc", "master", "spark_version", "source_digest", "seed",
                "input_shape", "trace"):
        assert detail[key] is not None, key
    assert "commit" in detail  # null where the checkout is not a git repo
    assert detail["seed"] == 9 and detail["trace"] == 0


def test_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    code = run.main(["--workload", "batch_queries", "--seed", "1",
                     "--seconds", "1", "--trace", "0"])
    assert code != 0
    assert capsys.readouterr().out == ""
