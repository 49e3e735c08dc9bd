"""Reference-shaped fixture suite (SURVEY.md §5, FIXTURES.md): miniature
wiki JSON / kaggle CSV / ratings CSV exercising the full pipeline
composition, with hand-computed golden expectations mirroring the
reference's behavior (challenge.py:18-314):

- P1 key-existence filter (drop no-director / no-imdb-link / episodes)
- D1 dedup by imdb_id, first-in-file-order wins
- P9/P10 synonym coalesce (last-rename-wins priority) + alt-title map
- P5 90%-null column pruning (data-dependent projection)
- F3-F11 money/date/runtime parsing incl. the single-digit-day quirk
- P2/F12-F14 kaggle filter + casts, J1 merge, F15 precedence fills,
  P6/P8 final projection + rename, A1-A3/F16/J2 ratings block
"""

from __future__ import annotations

import pytest

from movies_etl_spark.plans import pipeline


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    from movies_etl_spark.plans import fixtures

    d = tmp_path_factory.mktemp("movies_fixture")
    return fixtures.write_fixture_files(str(d))


@pytest.fixture(scope="module")
def outputs(spark, fixture_paths):
    wiki, kag, rat = fixture_paths
    return pipeline.run_pipeline(spark, wiki, kag, rat)


def test_wiki_filter_dedup_prune(spark, fixture_paths):
    wiki, _, _ = fixture_paths
    from movies_etl_spark.sources import readers

    raw = readers.read_json_records(spark, wiki, multiline=True)
    assert raw.count() == 16  # golden: raw records
    cleaned = pipeline.clean_wiki(raw)
    rows = {r["imdb_id"]: r.asDict() for r in cleaned.collect()}
    # 16 raw → 13 after P1 (D,E,F dropped) → 12 after dedup (C dropped)
    assert len(rows) == 12
    # dedup kept FIRST occurrence (A, not C)
    assert rows["tt0000001"]["title"] == "Alpha"
    # junk keys present on exactly 1/12 records → ≥90% null → pruned
    for junk in ["Genre", "Original network", "Preceded by", "Budget notes"]:
        assert junk not in cleaned.columns
    # parsing golden values
    a = rows["tt0000001"]
    assert a["box_office"] == pytest.approx(21.4e6)
    assert a["budget"] == pytest.approx(20e6)
    assert str(a["release_date"]) == "1990-05-17"  # list cell, ISO form
    assert a["running_time"] == pytest.approx(102.0)
    b = rows["tt0000002"]
    assert b["box_office"] == pytest.approx(1.2e9)
    assert b["budget"] == pytest.approx(80.2e6)  # range → upper value
    assert str(b["release_date"]) == "1991-01-01"  # bare year
    assert b["running_time"] == pytest.approx(102.0)  # 1h42m
    assert b["Writer(s)"] == "Writer Won"  # Written by beats Story by
    g = rows["tt0000007"]
    assert g["box_office"] is None  # N/A
    assert g["budget"] == pytest.approx(123456789.0)
    assert str(g["release_date"]) == "1996-07-01"  # month-year form
    assert g["running_time"] == pytest.approx(120.0)  # "2 hr"
    h = rows["tt0000008"]
    assert h["running_time"] == pytest.approx(95.0)  # Length synonym
    # single-digit day falls through to bare-year form (reference quirk)
    assert str(h["release_date"]) == "1997-01-01"
    assert h["Producer(s)"] == "Prod Win"  # Producer beats Produced by
    # alt-title map collected
    assert rows["tt0000001"]["alt_titles"] == {"French": "Alpha FR"}


def test_movies_output(outputs):
    movies = outputs["movies"]
    rows = {r["imdb_id"]: r.asDict() for r in movies.collect()}
    # inner join: only A,B,G,H have kaggle rows with adult=False
    assert set(rows) == {"tt0000001", "tt0000002", "tt0000007", "tt0000008"}
    # final rename applied
    assert "kaggle_id" in movies.columns and "wikipedia_url" in movies.columns
    assert movies.columns[0] == "imdb_id"
    # F15 precedence fills
    assert rows["tt0000001"]["runtime"] == pytest.approx(102.0)  # 0 → wiki
    assert rows["tt0000002"]["revenue"] == pytest.approx(1.2e9)  # 0 → wiki
    assert rows["tt0000007"]["budget"] == pytest.approx(123456789.0)  # 0 → wiki
    # non-zero kaggle values NOT overwritten
    assert rows["tt0000008"]["runtime"] == pytest.approx(95.0)
    assert rows["tt0000008"]["budget"] == pytest.approx(3000000)
    # kaggle title wins the 'title' slot
    assert rows["tt0000001"]["title"] == "Alpha K"


def test_movies_ratings_output(outputs):
    mr = outputs["movies_ratings"]
    rows = {r["imdb_id"]: r.asDict() for r in mr.collect()}
    assert len(rows) == 4
    a = rows["tt0000001"]
    assert a["rating_5.0"] == 2 and a["rating_3.0"] == 1
    assert a["rating_0.5"] == 0  # fillna(0) pre-join
    b = rows["tt0000002"]
    assert b["rating_0.5"] == 1
    # Eta has no ratings at all → left-join nulls (challenge.py behavior)
    h = rows["tt0000008"]
    assert h["rating_5.0"] is None and h["rating_0.5"] is None
    # 10 pivot columns present
    assert sum(c.startswith("rating_") for c in mr.columns) == 10


def test_ratings_output(outputs):
    ratings = outputs["ratings"].collect()
    assert len(ratings) == 6
    ts = {r["userId"]: r["timestamp"] for r in ratings if r["movieId"] == 11}
    import datetime

    assert ts[1] == datetime.datetime(2001, 9, 9, 1, 46, 40)  # epoch 1e9 UTC


def test_merge_movies_fills_from_decimal_text(spark):
    """F15 through merge_movies when kaggle runtime/revenue arrive as the
    real CSV's decimal text ("81.0", "0.0"), not as integer text."""
    wiki = spark.createDataFrame(
        [("tt1", 102.0, 9.0e6), ("tt2", 95.0, 7.0e6)],
        "imdb_id string, running_time double, box_office double",
    )
    kaggle = spark.createDataFrame(
        [("tt1", "81.0", "0.0"), ("tt2", "0.0", "373554033.0")],
        "imdb_id string, runtime string, revenue string",
    )
    rows = {r["imdb_id"]: r for r in pipeline.merge_movies(wiki, kaggle).collect()}
    assert (rows["tt1"]["runtime"], rows["tt1"]["revenue"]) == (81.0, 9.0e6)
    assert (rows["tt2"]["runtime"], rows["tt2"]["revenue"]) == (95.0, 373554033.0)
