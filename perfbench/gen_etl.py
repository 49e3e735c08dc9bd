"""Seeded generator for the ETL workloads' three inputs, with planted
ground truth.

Writes the reference's inputs in the reference's formats (FIXTURES.md):

- ``wiki.json``: one JSON array of ragged records with mixed scalar and
  list cells, every money, date and running-time form, synonym and
  alt-title keys, junk keys that are more than 90% null, records with no
  IMDb link or no director, TV records with ``No. of episodes``, and
  duplicate IMDb ids;
- ``kaggle.csv``: the ``movies_metadata.csv`` columns, with ``revenue``,
  ``runtime`` and ``vote_count`` written as the real file writes them
  (decimal text such as ``373554033.0``), zero values that trigger the
  precedence fills, ``adult`` values ``True``/``False`` plus corrupt
  shifted rows;
- ``ratings.csv``: ``userId,movieId,rating,timestamp`` with the ten rating
  values, movie ids that have no movie, and movies with no ratings.

``ground_truth`` holds what a correct pipeline must produce: survivors
after each filter and dedup step, the junk keys the prune drops, the
output row counts, and the rating-bucket counts per joined movie.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

RATING_VALUES = [0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0]
#: skewed towards 3-4 stars, like the real file (mean 3.53)
RATING_WEIGHTS = np.array([1.6, 3.3, 1.7, 7.2, 4.9, 20.0, 12.0, 26.5, 8.6, 14.2])

KAGGLE_COLUMNS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "poster_path", "production_companies",
    "production_countries", "release_date", "revenue", "runtime",
    "spoken_languages", "status", "tagline", "title", "video",
    "vote_average", "vote_count",
]

MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
ALT_TITLE_KEYS = [
    "Also known as", "Arabic", "Cantonese", "Chinese", "French", "Hangul",
    "Hebrew", "Hepburn", "Japanese", "Literally", "Mandarin",
    "McCune–Reischauer", "Original title", "Polish", "Revised Romanization",
    "Romanized", "Russian", "Simplified", "Traditional", "Yiddish",
]
#: keys present on about 3% of records each: the >90%-null prune drops them
JUNK_KEYS = [
    "Genre", "Original network", "Preceded by", "Followed by", "Narrated by",
    "Animation by", "Color process", "Budget notes", "Label", "Recorded",
    "Venue", "Camera setup",
]
#: (synonym key, canonical key) pairs; a record carries one key of a pair.
#: The director pair is drawn separately, since it decides the filter.
SYNONYM_PAIRS = [
    ("Country of origin", "Country"),
    ("Distributed by", "Distributor"),
    ("Produced by", "Producer(s)"),
    ("Music by", "Composer(s)"),
    ("Edited by", "Editor(s)"),
]
WRITER_KEYS = ["Written by", "Screenplay by", "Story by"]
COMPANY_KEYS = ["Productioncompany ", "Productioncompanies "]


def _money_cell(rng: np.random.Generator) -> str | list[str]:
    """One Box office / Budget cell, in one of the reference's forms."""
    form = int(rng.integers(0, 9))
    m = round(float(rng.uniform(1, 300)), 1)
    if form == 0:
        return f"${m} million"
    if form == 1:
        return f"${round(m / 100, 2)} billion"
    if form == 2:
        return f"${int(m * 1_000_000):,}"
    if form == 3:
        return f"${m}–{round(m + 0.6, 1)} million"
    if form == 4:
        return f"${m} milion"
    if form == 5:
        return "N/A"
    if form == 6:
        return [f"${m} million", "[1]"]
    if form == 7:
        return f"${m} million[{int(rng.integers(1, 9))}]"
    return f"US${int(m)} million"


def _date_cell(rng: np.random.Generator, year: int) -> str | list[str]:
    month = int(rng.integers(1, 13))
    day = int(rng.integers(10, 29))
    name = MONTHS[month - 1]
    form = int(rng.integers(0, 5))
    if form == 0:
        return f"{name} {day}, {year}"
    if form == 1:
        return f"{year}-{month:02d}-{day:02d}"
    if form == 2:
        return f"{name} {year}"
    if form == 3:
        return str(year)
    return [f"{name} {day}, {year}", "(", f"{year}-{month:02d}-{day:02d}", ")"]


def _runtime_cell(rng: np.random.Generator) -> str | list[str]:
    minutes = int(rng.integers(70, 180))
    form = int(rng.integers(0, 5))
    if form == 0:
        return f"{minutes} minutes"
    if form == 1:
        return f"{minutes // 60} hour {minutes % 60} minutes"
    if form == 2:
        return f"{minutes // 60} hr"
    if form == 3:
        return f"approx. {minutes} min"
    return [f"{minutes} minutes", "(theatrical)"]


def _names(rng: np.random.Generator, role: str, n: int) -> str | list[str]:
    picks = [f"{role} {int(i)}" for i in rng.integers(0, 5_000, n)]
    return picks[0] if n == 1 else picks


def wiki_records(rng: np.random.Generator, n: int) -> tuple[list[dict], dict]:
    """Ragged wiki records plus their planted survivor counts."""
    records = []
    kept_ids: set[int] = set()
    after_filter = 0
    for i in range(n):
        year = int(rng.integers(1990, 2020))
        rec: dict = {
            "url": f"https://en.wikipedia.org/wiki/Film_{i}",
            "year": year,
            "title": f"Film {i}",
        }
        draw = rng.random(8)
        has_link = draw[0] >= 0.02
        if has_link:
            # about 1% of records reuse an earlier record's IMDb id
            imdb = int(rng.integers(0, i)) if i and draw[1] < 0.01 else i
            rec["imdb_link"] = f"https://www.imdb.com/title/tt{1_000_000 + imdb:07d}/"
        has_director = draw[2] >= 0.03
        if has_director:
            key = "Directed by" if draw[3] < 0.55 else "Director"
            rec[key] = _names(rng, "Director", 1 + int(draw[4] < 0.1))
        episodic = draw[5] < 0.01
        if episodic:
            rec["No. of episodes"] = int(rng.integers(6, 60))
        for syn, canon in SYNONYM_PAIRS:
            if rng.random() < 0.8:
                rec[syn if rng.random() < 0.6 else canon] = _names(
                    rng, canon, 1 + int(rng.random() < 0.2)
                )
        if rng.random() < 0.85:
            rec["Starring"] = _names(rng, "Actor", int(rng.integers(1, 5)))
        if rng.random() < 0.7:
            rec["Cinematography"] = _names(rng, "DoP", 1)
        if rng.random() < 0.3:
            rec["Based on"] = _names(rng, "Book", 1)
        if rng.random() < 0.75:
            rec[WRITER_KEYS[int(rng.integers(0, 3))]] = _names(rng, "Writer", 1)
        if rng.random() < 0.6:
            rec[COMPANY_KEYS[int(rng.integers(0, 2))]] = _names(rng, "Studio", 1)
        if rng.random() < 0.7:
            rec["Box office"] = _money_cell(rng)
        if rng.random() < 0.65:
            rec["Budget"] = _money_cell(rng)
        if rng.random() < 0.9:
            key = ["Release date", "Released", "Original release"][
                int(rng.choice(3, p=[0.9, 0.07, 0.03]))
            ]
            rec[key] = _date_cell(rng, year)
        if rng.random() < 0.85:
            rec["Running time" if rng.random() < 0.95 else "Length"] = _runtime_cell(rng)
        if rng.random() < 0.5:
            rec["Language"] = "English"
        if rng.random() < 0.12:
            key = ALT_TITLE_KEYS[int(rng.integers(0, len(ALT_TITLE_KEYS)))]
            rec[key] = f"Alt title {i}"
        for junk in JUNK_KEYS:
            if rng.random() < 0.03:
                rec[junk] = f"{junk} {i}"
        records.append(rec)
        if has_link and has_director and not episodic:
            after_filter += 1
            kept_ids.add(1_000_000 + imdb)
    truth = {
        "wiki_raw": n,
        "wiki_after_filter": after_filter,
        "wiki_after_dedup": len(kept_ids),
        "junk_keys": JUNK_KEYS,
    }
    return records, {"truth": truth, "wiki_ids": kept_ids}


def kaggle_rows(
    rng: np.random.Generator, n: int, wiki_ids: set[int], n_wiki: int
) -> tuple[list[dict], dict]:
    """movies_metadata.csv rows; about 60% of rows name a wiki IMDb id."""
    rows = []
    matched_ids = np.flatnonzero(rng.random(n_wiki) < 0.9) + 1_000_000
    matched_ids = list(matched_ids[: int(n * 0.6)])
    extra = n - len(matched_ids)
    imdb_ids = matched_ids + list(range(3_000_000, 3_000_000 + extra))
    order = rng.permutation(n)
    kaggle_ids = rng.choice(np.arange(2, 470_000), n, replace=False)
    clean_ids = []
    joined: dict[int, int] = {}
    for pos in range(n):
        imdb = int(imdb_ids[order[pos]])
        kid = int(kaggle_ids[pos])
        r = rng.random(6)
        adult = "False"
        if r[0] < 0.0003:
            adult = "True"
        elif r[0] < 0.0006:
            adult = " - Written by Ørnås"
        revenue = 0 if r[1] < 0.4 else int(rng.integers(10_000, 900_000_000))
        runtime = 0 if r[2] < 0.03 else int(rng.integers(60, 200))
        budget = 0 if r[3] < 0.5 else int(rng.integers(1, 300)) * 100_000
        row = {
            "adult": adult,
            "belongs_to_collection": "" if r[4] < 0.9 else
            f"{{'id': {kid}, 'name': 'Collection {kid}'}}",
            "budget": str(budget),
            "genres": "[{'id': 18, 'name': 'Drama'}]",
            "homepage": "",
            "id": str(kid),
            "imdb_id": f"tt{imdb:07d}",
            "original_language": "en" if r[5] < 0.7 else "fr",
            "original_title": f"Title {kid}",
            "overview": f"A film numbered {kid}.",
            "popularity": f"{rng.uniform(0, 50):.6f}",
            "poster_path": f"/p{kid}.jpg",
            "production_companies": "[{'name': 'Studio', 'id': 1}]",
            "production_countries": "[{'iso_3166_1': 'US', 'name': 'United States of America'}]",
            "release_date": f"{int(rng.integers(1990, 2018))}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}",
            "revenue": f"{float(revenue)}",
            "runtime": f"{float(runtime)}",
            "spoken_languages": "[{'iso_639_1': 'en', 'name': 'English'}]",
            "status": "Released",
            "tagline": "",
            "title": f"Title {kid}",
            "video": "True" if rng.random() < 0.002 else "False",
            "vote_average": f"{rng.uniform(1, 10):.1f}",
            "vote_count": f"{float(rng.integers(0, 15_000))}",
        }
        if adult.startswith(" - "):
            # a shifted row: the real file's corrupt rows carry text in
            # the numeric columns
            row.update(budget="/ff9qCepilowshEtG2GYWwzt2bs4.jpg", id="1997-08-20",
                       popularity="Released")
        rows.append(row)
        if adult == "False":
            clean_ids.append(kid)
            if imdb in wiki_ids:
                joined[kid] = imdb
    truth = {"kaggle_raw": n, "kaggle_after_filter": len(clean_ids)}
    return rows, {"truth": truth, "clean_ids": clean_ids, "joined": joined}


def ratings_table(
    rng: np.random.Generator, n: int, clean_ids: list[int]
) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """Ratings rows; 1% name a movie id absent from kaggle. Returns the
    table plus (movieId, bucket index) arrays for the ground truth."""
    ids = np.asarray(clean_ids, dtype=np.int64)
    # popularity skew: a quarter of the movies take most of the ratings,
    # and about a tenth of the movies get none
    rated = ids[: max(1, int(len(ids) * 0.9))]
    weights = 1.0 / (1.0 + np.arange(len(rated)) % 97)
    weights /= weights.sum()
    movie = rated[rng.choice(len(rated), n, p=weights)]
    orphan = rng.random(n) < 0.01
    movie[orphan] = 500_000 + rng.integers(0, 10_000, int(orphan.sum()))
    bucket = rng.choice(10, n, p=RATING_WEIGHTS / RATING_WEIGHTS.sum())
    labels = pa.array([f"{v:.1f}" for v in RATING_VALUES])
    table = pa.table({
        "userId": rng.integers(1, 270_897, n),
        "movieId": movie,
        "rating": labels.take(pa.array(bucket)),
        "timestamp": rng.integers(789_652_009, 1_501_829_871, n),
    })
    return table, movie, bucket


def generate(seed: int, target_dir: str, n_wiki: int, n_kaggle: int,
             n_ratings: int) -> dict:
    """Write wiki.json, kaggle.csv and ratings.csv; returns the paths and
    the planted ground truth."""
    os.makedirs(target_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    records, wiki = wiki_records(rng, n_wiki)
    rows, kaggle = kaggle_rows(rng, n_kaggle, wiki["wiki_ids"], n_wiki)
    ratings, movie, bucket = ratings_table(rng, n_ratings, kaggle["clean_ids"])

    paths = {
        "wiki": os.path.join(target_dir, "wiki.json"),
        "kaggle": os.path.join(target_dir, "kaggle.csv"),
        "ratings": os.path.join(target_dir, "ratings.csv"),
    }
    with open(paths["wiki"], "w", encoding="utf-8") as f:
        json.dump(records, f, ensure_ascii=False)
    with open(paths["kaggle"], "w", newline="", encoding="utf-8") as f:
        writer = csv.DictWriter(f, fieldnames=KAGGLE_COLUMNS)
        writer.writeheader()
        writer.writerows(rows)
    pacsv.write_csv(
        ratings, paths["ratings"],
        pacsv.WriteOptions(quoting_style="none"),
    )

    joined = kaggle["joined"]
    movie_ids = np.fromiter(joined, dtype=np.int64, count=len(joined))
    buckets = {int(k): [0] * 10 for k in movie_ids}
    mask = np.isin(movie, movie_ids)
    pairs, counts = np.unique(
        movie[mask] * 10 + bucket[mask], return_counts=True
    )
    for pair, count in zip(pairs.tolist(), counts.tolist()):
        buckets[pair // 10][pair % 10] = count
    truth = {
        **wiki["truth"],
        **kaggle["truth"],
        "ratings": n_ratings,
        "movies": len(joined),
        "movie_imdb_ids": sorted(f"tt{v:07d}" for v in joined.values()),
        "rating_buckets": {str(k): v for k, v in sorted(buckets.items())},
    }
    return {"paths": paths, "truth": truth,
            "input_rows": n_wiki + n_kaggle + n_ratings}
