"""Star-schema enrichment joins (reference J1/J2).

Reference: ``streams ⋈ songs on track_id`` then ``⋈ users on user_id``,
both INNER, dims pre-projected to the needed columns
(reference glue_jobs/music-streaming-transform.py:59-92).

Spark-first decisions:

- ``broadcast()`` on both dimensions. The fact side is unbounded (100 TB);
  the dims (songs ~100k rows, users ~50k) fit comfortably in executor
  memory, so the join is a broadcast hash join with NO shuffle of the
  fact table — the single most important plan property at scale. AQE
  would pick this automatically under the threshold; the explicit hint
  makes it deterministic. If a dimension outgrows broadcast size, drop
  the hint and let sort-merge + AQE skew handling take over.
- INNER join semantics preserved: stream events with unknown track/user
  are silently dropped, exactly like the reference (SURVEY.md §2.3 note).
- The ``date`` column (to_date(listen_time)) is the daily tumbling-window
  key (X2) and the partition column for output pruning (P6/P11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_streams(
    streams: DataFrame,
    songs: DataFrame,
    users: DataFrame,
    process_date: str | None = None,
) -> DataFrame:
    """J1 + J2 + P11 (+ optional P6 date filter).

    Mirrors music-streaming-transform.py:59-92 with broadcast dims; the
    P11 daily grain is ``to_date(listen_time)`` (line 79).
    ``process_date`` reproduces the PROCESS_DATE recompute-one-day filter
    (music-streaming-transform.py:82-85); Catalyst pushes it below the
    joins to the streams scan.
    """
    songs_dim = songs.select(
        "track_id", "track_name", "track_genre", "artists", "duration_ms"
    )
    users_dim = users.select("user_id", "user_age", "user_country")

    enriched = (
        streams.join(F.broadcast(songs_dim), on="track_id", how="inner")
        .join(F.broadcast(users_dim), on="user_id", how="inner")
        .withColumn("date", F.to_date("listen_time"))
    )
    if process_date is not None:
        enriched = enriched.filter(F.col("date") == F.lit(process_date).cast("date"))
    return enriched
