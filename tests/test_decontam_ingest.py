"""Decontamination firewall at ingest ≡ the batch n-gram check with
roles flipped (report per ARRIVING doc against the pinned eval set);
replays are no-ops; double-init refuses."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.operators.text import (
    ngram_contamination,
)
from music_streaming_data_pipeline_v2_spark.streaming.decontam_ingest import (
    init_decontam_state,
    query_contamination,
    run_incremental_decontam,
)

N = 3
TEST_DOCS = [
    (900, "held out eval question one about spark planning", "eval"),
    (901, "another held out eval prompt with unique words", "eval"),
]
WAVE1 = [
    (0, "training doc regarding sparkish planner strategies", "w"),  # clean
    (1, "contains held out eval question one verbatim", "w"),  # leaks 900
    (2, "completely unrelated corpus text here", "w"),
]
WAVE2 = [
    (10, "another held out eval prompt appears here", "w"),  # leaks 901
    (11, "held out eval shared prefix only", "w"),  # leaks BOTH (common grams)
]


def _write_wave(path, rows):
    with open(path, "w") as fh:
        for did, text, src in rows:
            fh.write(
                json.dumps({"doc_id": did, "text": text, "source": src})
                + "\n"
            )


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def _vals(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_decontam_matches_batch(spark, tmp_path):
    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    test_docs = _df(spark, TEST_DOCS)
    init_decontam_state(spark, work, test_docs, n=N)

    _write_wave(inp / "w1.jsonl", WAVE1)
    run_incremental_decontam(spark, str(inp), work)
    want1 = _vals(ngram_contamination(test_docs, _df(spark, WAVE1), n=N))
    assert _vals(query_contamination(spark, work)) == want1
    flagged = {r[0] for r in want1}
    assert 1 in flagged and 0 not in flagged and 2 not in flagged

    _write_wave(inp / "w2.jsonl", WAVE2)
    run_incremental_decontam(spark, str(inp), work)
    both = _vals(
        ngram_contamination(test_docs, _df(spark, WAVE1 + WAVE2), n=N)
    )
    got = _vals(query_contamination(spark, work))
    assert got == both
    by_id = {r[0]: r for r in got}
    assert by_id[11][2] == 2  # hits BOTH eval docs via the shared prefix

    # replay with no new files: state unchanged
    run_incremental_decontam(spark, str(inp), work)
    assert _vals(query_contamination(spark, work)) == both


def test_double_init_refuses_and_missing_state_refuses(spark, tmp_path):
    work = str(tmp_path / "work")
    test_docs = _df(spark, TEST_DOCS)
    init_decontam_state(spark, work, test_docs, n=N)
    with pytest.raises(ValueError, match="already initialized"):
        init_decontam_state(spark, work, test_docs, n=N)
    with pytest.raises(ValueError, match="init_decontam_state first"):
        run_incremental_decontam(
            spark, str(tmp_path / "nowhere_in"), str(tmp_path / "fresh")
        )


def test_state_meta_follows_uri_work_dir(spark, tmp_path, monkeypatch):
    """The pinned meta lives under the work_dir URI itself, not under
    the driver's working directory: a drain started from another cwd
    finds it."""
    inp = tmp_path / "in"
    inp.mkdir()
    work = (tmp_path / "work").as_uri()
    first_cwd = tmp_path / "cwd_a"
    first_cwd.mkdir()
    monkeypatch.chdir(first_cwd)
    init_decontam_state(spark, work, _df(spark, TEST_DOCS), n=N)
    assert (tmp_path / "work" / "state_meta.json").exists()

    other_cwd = tmp_path / "cwd_b"
    other_cwd.mkdir()
    monkeypatch.chdir(other_cwd)
    _write_wave(inp / "w1.jsonl", WAVE1)
    run_incremental_decontam(spark, str(inp), work)
    want = _vals(ngram_contamination(_df(spark, TEST_DOCS), _df(spark, WAVE1), n=N))
    assert _vals(query_contamination(spark, work)) == want
    with pytest.raises(ValueError, match="already initialized"):
        init_decontam_state(spark, work, _df(spark, TEST_DOCS), n=N)


def test_incremental_cleaned_corpus_matches_batch(spark, tmp_path):
    """emit_cleaned drains land the EXCISED segment corpus; the union
    over waves ≡ remove_contaminated_spans over the concatenation
    (batch-local excision against the pinned gram postings)."""
    from music_streaming_data_pipeline_v2_spark.operators.text import (
        remove_contaminated_spans,
    )
    from music_streaming_data_pipeline_v2_spark.streaming.decontam_ingest import (
        query_cleaned_corpus,
    )

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    test_docs = _df(spark, TEST_DOCS)
    init_decontam_state(
        spark, work, test_docs, n=N, margin=1, min_segment_tokens=2
    )

    _write_wave(inp / "w1.jsonl", WAVE1)
    run_incremental_decontam(spark, str(inp), work, emit_cleaned=True)
    _write_wave(inp / "w2.jsonl", WAVE2)
    run_incremental_decontam(spark, str(inp), work, emit_cleaned=True)

    want = _vals(
        remove_contaminated_spans(
            _df(spark, WAVE1 + WAVE2),
            test_docs,
            n=N,
            margin=1,
            min_segment_tokens=2,
        )
    )
    got = _vals(query_cleaned_corpus(spark, work))
    assert got == want
    # the leaking docs actually lost tokens; the clean docs pass whole
    by_doc = {}
    for doc_id, _seg, _idx, n_tokens, _text in got:
        by_doc[doc_id] = by_doc.get(doc_id, 0) + n_tokens
    assert by_doc[0] == len(WAVE1[0][1].split())
    assert by_doc.get(1, 0) < len(WAVE1[1][1].split())

    # replay with no new files: cleaned corpus unchanged
    run_incremental_decontam(spark, str(inp), work, emit_cleaned=True)
    assert _vals(query_cleaned_corpus(spark, work)) == want


def test_eval_grams_and_eval_set_mutually_exclusive(spark):
    from music_streaming_data_pipeline_v2_spark.operators.text import (
        remove_contaminated_spans,
    )

    docs = _df(spark, WAVE1)
    with pytest.raises(ValueError, match="exactly one"):
        remove_contaminated_spans(docs, None, n=N)
    with pytest.raises(ValueError, match="exactly one"):
        remove_contaminated_spans(
            docs,
            _df(spark, TEST_DOCS),
            n=N,
            eval_grams=docs.select(F.col("text").alias("gram")),
        )
