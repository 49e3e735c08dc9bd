"""Output checks, run outside the timed window.

Query outputs are compared with their DuckDB oracle under the rules of
the repository's oracle-parity test: columns sorted by name, temporal
values normalized to tz-naive nanoseconds, NaN read as null, rows sorted
on every column, then exact cell equality. ETL tables are compared with
the generator's planted ground truth. Every check returns ``None`` when
the output is right and a one-line reason when it is not.
"""

from __future__ import annotations

import datetime
import math

import pandas as pd

RATING_COLUMNS = [
    f"rating_{v}" for v in (0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0)
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else v
            )
            non_null = df[c].dropna()
            if len(non_null) and isinstance(non_null.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c])
    df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Exact, order-insensitive comparison of a query result with its
    oracle result."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return "values differ: " + " ".join(str(exc).split())[:300]
    return None


def oracle_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_wiki_clean(columns: list[str], rows: int, truth: dict) -> str | None:
    """clean_wiki output: survivors after filter and dedup, junk pruned."""
    if rows != truth["wiki_after_dedup"]:
        return f"clean_wiki rows {rows} != planted {truth['wiki_after_dedup']}"
    kept = sorted(set(truth["junk_keys"]) & set(columns))
    if kept:
        return f"junk columns not pruned: {kept}"
    return None


def check_table(name: str, con, path: str, truth: dict) -> str | None:
    """One committed ETL table (parquet directory) against the planted
    ground truth, read back with DuckDB."""
    src = f"read_parquet('{path}/*.parquet')"
    rows = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    if name == "ratings":
        if rows != truth["ratings"]:
            return f"ratings rows {rows} != planted {truth['ratings']}"
        return None
    if rows != truth["movies"]:
        return f"{name} rows {rows} != planted {truth['movies']}"
    ids = [r[0] for r in con.execute(f"SELECT imdb_id FROM {src} ORDER BY 1").fetchall()]
    if ids != truth["movie_imdb_ids"]:
        return f"{name} imdb_id set differs from the planted join"
    if name == "movies":
        return None
    cols = ", ".join(f'"{c}"' for c in RATING_COLUMNS)
    got = con.execute(f"SELECT kaggle_id, {cols} FROM {src}").fetchall()
    return check_rating_buckets(
        {int(r[0]): list(r[1:]) for r in got}, truth["rating_buckets"]
    )


def check_rating_buckets(got: dict[int, list], planted: dict[str, list[int]]) -> str | None:
    """Per movie: each bucket count equals the planted count, so their sum
    equals the movie's ratings count. A movie with no ratings has all
    buckets null (left join of pre-filled counts)."""
    for key, want in planted.items():
        row = got.get(int(key))
        if row is None:
            return f"movie {key} missing from movies_ratings"
        if sum(want) == 0:
            if any(v is not None for v in row):
                return f"movie {key} has no ratings but buckets {row}"
            continue
        counts = [0 if v is None else int(v) for v in row]
        if sum(counts) != sum(want):
            return f"movie {key} bucket sum {sum(counts)} != ratings {sum(want)}"
        if counts != want:
            return f"movie {key} buckets {counts} != planted {want}"
    return None
