"""Independent DuckDB recomputation of the pipeline's outputs.

The expected tables are computed straight from the generated inputs
with plain SQL (no code shared with the package) and compared with
what the program wrote, row for row. Every value is compared as text
except the kv ``value`` attribute, which the program stores as the
string form of a number; those compare as parsed doubles.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

KPI_SQL = """
CREATE OR REPLACE TABLE enriched AS
SELECT e.user_id, e.track_id, CAST(e.listen_time AS DATE) AS date,
       s.track_name, s.artists, s.track_genre, s.duration_ms
FROM {events} e
JOIN songs s USING (track_id)
JOIN users u USING (user_id);

CREATE OR REPLACE TABLE genre_kpis AS
SELECT track_genre, date,
       count(*) AS listen_count,
       count(DISTINCT user_id) AS unique_listeners,
       sum(duration_ms) AS total_listening_time_ms,
       avg(duration_ms) AS avg_listening_time_ms,
       sum(duration_ms) / count(DISTINCT user_id) AS avg_listening_time_per_user
FROM enriched GROUP BY track_genre, date;

CREATE OR REPLACE TABLE top_songs AS
SELECT * FROM (
  SELECT track_genre, date,
         row_number() OVER (PARTITION BY track_genre, date
                            ORDER BY play_count DESC, track_id) AS rank,
         track_id, track_name, artists, play_count
  FROM (SELECT track_genre, date, track_id, track_name, artists,
               count(*) AS play_count
        FROM enriched GROUP BY ALL))
WHERE rank <= 3;

CREATE OR REPLACE TABLE top_genres AS
SELECT * FROM (
  SELECT date,
         row_number() OVER (PARTITION BY date
                            ORDER BY listen_count DESC, track_genre) AS rank,
         track_genre, listen_count AS total_plays
  FROM genre_kpis)
WHERE rank <= 5;

CREATE OR REPLACE TABLE kv AS
SELECT 'GENRE#' || track_genre || '#DATE#' || CAST(date AS VARCHAR) AS pk,
       'METRIC#' || metric_type AS sk, value, metric_type,
       CAST(date AS VARCHAR) AS date, track_genre AS genre,
       NULL AS song_name, NULL AS artists, NULL AS play_count,
       NULL AS rank, NULL AS record_type, NULL AS total_plays
FROM (UNPIVOT (SELECT track_genre, date,
                      CAST(listen_count AS DOUBLE) AS listen_count,
                      CAST(unique_listeners AS DOUBLE) AS unique_listeners,
                      CAST(total_listening_time_ms AS DOUBLE) AS total_listening_time_ms,
                      avg_listening_time_ms
               FROM genre_kpis)
      ON listen_count, unique_listeners, total_listening_time_ms,
         avg_listening_time_ms
      INTO NAME metric_type VALUE value)
UNION ALL
SELECT 'GENRE#' || track_genre || '#DATE#' || CAST(date AS VARCHAR),
       'SONG#' || rank || '#' || track_id, NULL, NULL,
       CAST(date AS VARCHAR), track_genre, track_name, artists,
       CAST(play_count AS VARCHAR), CAST(rank AS VARCHAR), 'top_song', NULL
FROM top_songs
UNION ALL
SELECT 'DATE#' || CAST(date AS VARCHAR), 'GENRE_RANK#' || rank, NULL, NULL,
       CAST(date AS VARCHAR), track_genre, NULL, NULL, NULL,
       CAST(rank AS VARCHAR), 'top_genre', CAST(total_plays AS VARCHAR)
FROM top_genres;
"""

# text form of each compared table; kv's value is compared as a double
_TEXT = {
    "genre_kpis": "track_genre, CAST(date AS VARCHAR) AS date, listen_count, "
    "unique_listeners, total_listening_time_ms, avg_listening_time_ms, "
    "avg_listening_time_per_user",
    "top_songs": "track_genre, CAST(date AS VARCHAR) AS date, "
    "CAST(rank AS BIGINT) AS rank, track_id, track_name, artists, play_count",
    "top_genres": "CAST(date AS VARCHAR) AS date, CAST(rank AS BIGINT) AS rank, "
    "track_genre, total_plays",
    "kv": "pk, sk, CAST(value AS DOUBLE) AS value, metric_type, "
    "CAST(date AS VARCHAR) AS date, genre, song_name, artists, play_count, "
    "rank, record_type, total_plays",
}


class Oracle:
    """Expected outputs for one set of generated inputs."""

    def __init__(self, songs: pa.Table, users: pa.Table) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.register("songs_in", songs)
        self.con.register("users_in", users)
        self.con.execute("CREATE TABLE songs AS SELECT * FROM songs_in")
        self.con.execute("CREATE TABLE users AS SELECT * FROM users_in")

    def compute(self, events_sql: str) -> None:
        """Recompute every output table from ``events_sql`` (a table
        expression with user_id, track_id, listen_time)."""
        self.con.execute(KPI_SQL.format(events=f"({events_sql})"))

    def kv_rows(self) -> list[tuple]:
        """(pk, sk, value, play_count, total_plays) of the expected kv."""
        return self.con.execute(
            "SELECT pk, sk, value, play_count, total_plays FROM kv"
        ).fetchall()

    def mismatches(self, table: str, out_dir: str) -> int:
        """Rows in either the expected table or the program's output
        ``out_dir`` that the other lacks (multiset difference)."""
        cols = _TEXT[table]
        got = (
            f"SELECT {cols} FROM read_parquet('{out_dir}/**/*.parquet', "
            "hive_partitioning = true, union_by_name = true)"
        )
        want = f"SELECT {cols} FROM {table}"
        n = 0
        for a, b in ((got, want), (want, got)):
            n += self.con.execute(
                f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))"
            ).fetchone()[0]
        return n
