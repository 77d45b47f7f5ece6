"""Generator checks: ``python3 -m pytest perfbench/test_gen.py``."""

import csv
import io

import pyarrow as pa
import pyarrow.parquet as pq

import gen


def test_same_seed_same_content():
    assert gen.content_hash(7) == gen.content_hash(7)


def test_different_seed_different_content():
    assert gen.content_hash(7) != gen.content_hash(8)


def test_history_timestamps_are_microseconds(tmp_path):
    cat = gen.make_catalog(3)
    out = gen.write_history(cat, 3, 3_000, str(tmp_path))
    files = sorted(tmp_path.iterdir())
    assert len(files) == gen.PARAMS["history_days"]
    schema = pq.read_schema(files[0])
    assert schema.field("listen_time").type == pa.timestamp("us", tz="UTC")
    assert sum(pq.read_metadata(f).num_rows for f in files) == 3_000
    assert out == str(tmp_path)


def test_arrival_invalid_rows_match_count():
    cat = gen.make_catalog(5)
    a = gen.make_arrival(cat, 5, 4)
    rows = list(csv.DictReader(io.StringIO(a.csv.decode())))
    bad = [
        r for r in rows
        if not r["user_id"] or not r["track_id"]
        or not r["listen_time"][:4].isdigit()
    ]
    assert len(rows) == a.n_rows == gen.PARAMS["arrival_rows"]
    assert len(bad) == a.n_invalid >= 1
    assert a.valid.num_rows == a.n_rows - a.n_invalid
    # mostly the file's own day, some late rows from the days before
    days = (
        a.valid["listen_time"].cast(pa.int64()).to_numpy() - gen.BASE_US
    ) // gen.DAY_US
    assert (days == 4).mean() > 0.8
    assert set(days) <= {1, 2, 3, 4}
