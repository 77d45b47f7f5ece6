"""Seeded, music-shaped input generator for the benchmark.

Everything the program under test sees is produced here from one seed:
the songs and users dimensions (Parquet), a 30-day stream history
(Parquet, one file per day) and reference-sized stream CSV arrivals.

Shape choices (recorded in ``PARAMS``, which every result's stamp echoes):

- 114 genres x 1,000 tracks = 114k tracks (the Spotify-tracks
  dimension) and 50k users (the reference's users artifact).
- Popularity is Zipf-skewed twice: a genre is drawn Zipf(s=1.1) over
  genre rank, then a track Zipf(s=1.0) over its rank inside the genre;
  users are Zipf(s=0.8). Ranks are mapped to ids by seeded
  permutations, so the popular ids differ between seeds.
- An arrival CSV holds ~11k rows (the reference's 11,346-row stream
  artifact): mostly the file's own day, ``late_share`` of rows from
  the previous ``late_days`` days and ``invalid_share`` rows that the
  validation layer must quarantine.
- Timestamps are written as microsecond Parquet timestamps (UTC);
  pandas' default nanosecond timestamps fail in Spark with
  PARQUET_TYPE_ILLEGAL.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARAMS = {
    "n_genres": 114,
    "tracks_per_genre": 1000,
    "n_users": 50_000,
    "genre_zipf_s": 1.1,
    "track_zipf_s": 1.0,
    "user_zipf_s": 0.8,
    "history_days": 30,
    "arrival_rows": 11_346,
    "late_share": 0.10,
    "late_days": 3,
    "invalid_share": 0.005,
}

DAY_US = 86_400 * 1_000_000
# 2025-01-01T00:00:00Z; every generated day counts from here.
BASE_US = 1_735_689_600 * 1_000_000
_ALPHABET = np.frombuffer(
    b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", np.uint8
)


def _ids(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    """``n`` distinct base62 ids of ``width`` characters."""
    while True:
        raw = _ALPHABET[rng.integers(0, 62, (n, width))].copy().view(f"S{width}")
        ids = raw.ravel().astype(str)
        if len(np.unique(ids)) == n:
            return ids


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def draw_ranks(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


@dataclass
class Catalog:
    """The dimensions plus the skew tables events are drawn from."""

    track_ids: np.ndarray  # index = genre * tracks_per_genre + rank slot
    genres: np.ndarray  # genre name per genre index
    genre_by_rank: np.ndarray  # genre index of the r-th most popular genre
    track_slot_by_rank: np.ndarray  # per genre: slot of the r-th track
    user_ids: np.ndarray
    user_by_rank: np.ndarray
    genre_cdf: np.ndarray
    track_cdf: np.ndarray
    user_cdf: np.ndarray
    songs: pa.Table
    users: pa.Table


def make_catalog(seed: int) -> Catalog:
    p = PARAMS
    rng = np.random.default_rng([seed, 1])
    g, tpg = p["n_genres"], p["tracks_per_genre"]
    n_tracks = g * tpg
    track_ids = _ids(rng, n_tracks, 22)
    genres = np.array([f"genre-{i:03d}" for i in range(g)])
    songs = pa.table(
        {
            "track_id": track_ids,
            "track_name": [f"song {i}" for i in range(n_tracks)],
            "artists": [f"artist {i % 9973}" for i in range(n_tracks)],
            "popularity": rng.integers(0, 101, n_tracks).astype(np.int32),
            "duration_ms": rng.integers(60_000, 420_000, n_tracks).astype(np.int32),
            "track_genre": np.repeat(genres, tpg),
        }
    )
    user_ids = np.array([f"u{i:06d}" for i in range(p["n_users"])])
    users = pa.table(
        {
            "user_id": user_ids,
            "user_name": [f"user {i}" for i in range(p["n_users"])],
            "user_age": rng.integers(13, 80, p["n_users"]).astype(np.int32),
            "user_country": rng.choice(
                np.array(["US", "GB", "DE", "BR", "IN", "JP", "NG", "MX"]),
                p["n_users"],
            ),
        }
    )
    return Catalog(
        track_ids=track_ids,
        genres=genres,
        genre_by_rank=rng.permutation(g),
        track_slot_by_rank=np.stack([rng.permutation(tpg) for _ in range(g)]),
        user_ids=user_ids,
        user_by_rank=rng.permutation(p["n_users"]),
        genre_cdf=_zipf_cdf(g, p["genre_zipf_s"]),
        track_cdf=_zipf_cdf(tpg, p["track_zipf_s"]),
        user_cdf=_zipf_cdf(p["n_users"], p["user_zipf_s"]),
        songs=songs,
        users=users,
    )


def draw_events(
    cat: Catalog, rng: np.random.Generator, days: np.ndarray
) -> pa.Table:
    """One event per entry of ``days`` (day offsets from BASE_US)."""
    n = len(days)
    genre = cat.genre_by_rank[draw_ranks(rng, cat.genre_cdf, n)]
    slot = cat.track_slot_by_rank[genre, draw_ranks(rng, cat.track_cdf, n)]
    track = cat.track_ids[genre * PARAMS["tracks_per_genre"] + slot]
    user = cat.user_ids[cat.user_by_rank[draw_ranks(rng, cat.user_cdf, n)]]
    # whole seconds: the CSV path and the Parquet path then carry the
    # same instant without any sub-second formatting question
    ts = BASE_US + days.astype(np.int64) * DAY_US + rng.integers(
        0, 86_400, n
    ).astype(np.int64) * 1_000_000
    return pa.table(
        {
            "user_id": user,
            "track_id": track,
            "listen_time": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def write_dims(cat: Catalog, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "songs": os.path.join(out_dir, "songs.parquet"),
        "users": os.path.join(out_dir, "users.parquet"),
    }
    pq.write_table(cat.songs, paths["songs"])
    pq.write_table(cat.users, paths["users"])
    return paths


def write_history(
    cat: Catalog, seed: int, n_events: int, out_dir: str
) -> str:
    """``n_events`` events spread evenly over ``history_days`` days,
    one Parquet file per day (so the scan has one split per day)."""
    rng = np.random.default_rng([seed, 2])
    days = PARAMS["history_days"]
    os.makedirs(out_dir, exist_ok=True)
    per_day = np.full(days, n_events // days)
    per_day[: n_events % days] += 1
    for d in range(days):
        t = draw_events(cat, rng, np.full(per_day[d], d))
        pq.write_table(t, os.path.join(out_dir, f"day-{d:02d}.parquet"))
    return out_dir


@dataclass
class Arrival:
    name: str
    csv: bytes
    valid: pa.Table  # the rows validation must keep
    n_rows: int
    n_invalid: int


def make_arrival(cat: Catalog, seed: int, i: int) -> Arrival:
    """Arrival file ``i``: day ``i`` plus late rows from the previous
    ``late_days`` days and a few invalid rows."""
    p = PARAMS
    rng = np.random.default_rng([seed, 3, i])
    n = p["arrival_rows"]
    n_bad = max(1, round(n * p["invalid_share"]))
    n_good = n - n_bad
    days = np.full(n_good, i)
    late = rng.random(n_good) < p["late_share"]
    days[late] -= rng.integers(1, p["late_days"] + 1, int(late.sum()))
    days = np.maximum(days, 0)
    valid = draw_events(cat, rng, days)
    user = valid["user_id"].to_numpy(zero_copy_only=False).astype(object)
    track = valid["track_id"].to_numpy(zero_copy_only=False).astype(object)
    secs = valid["listen_time"].cast(pa.int64()).to_numpy() // 1_000_000
    when = np.char.replace(
        np.datetime_as_string(secs.astype("datetime64[s]")), "T", " "
    ).astype(object)
    # invalid rows: one of the three required fields missing, or a
    # timestamp that does not parse
    bad_kind = rng.integers(0, 4, n_bad)
    bad_src = rng.integers(0, n_good, n_bad)
    bu, bt, bw = user[bad_src].copy(), track[bad_src].copy(), when[bad_src].copy()
    bu[bad_kind == 0] = ""
    bt[bad_kind == 1] = ""
    bw[bad_kind == 2] = ""
    bw[bad_kind == 3] = "not-a-timestamp"
    order = rng.permutation(n)
    cols = [np.concatenate([a, b])[order] for a, b in ((user, bu), (track, bt), (when, bw))]
    lines = ["user_id,track_id,listen_time"]
    lines += [f"{u},{t},{w}" for u, t, w in zip(*cols)]
    return Arrival(
        name=f"streams-{i:04d}.csv",
        csv=("\n".join(lines) + "\n").encode(),
        valid=valid,
        n_rows=n,
        n_invalid=n_bad,
    )


def content_hash(seed: int, n_events: int = 20_000, n_arrivals: int = 2) -> str:
    """Digest of everything generated for ``seed`` at a small size."""
    cat = make_catalog(seed)
    h = hashlib.sha256()
    for t in (cat.songs, cat.users):
        for col in t.columns:
            h.update(str(col.to_pylist()).encode())
    rng = np.random.default_rng([seed, 2])
    events = draw_events(cat, rng, np.arange(n_events) % PARAMS["history_days"])
    for col in events.columns:
        h.update(str(col.to_pylist()).encode())
    for i in range(n_arrivals):
        h.update(make_arrival(cat, seed, i).csv)
    return h.hexdigest()
