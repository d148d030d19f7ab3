"""End-to-end reference pipeline on FIXTURES.md-shaped raw files."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from etl_knlp_spark.plans.pipeline import parse_stage, run_reference_pipeline

# word_id 5 has langlinks in BOTH en and ja (the §2.3 fan-out quirk);
# word_id 9 links only ja; 42 has no langlink (left-join NULL).
WIKI = "600:5:지미 카터\n600:9:수학\n1234:42:역사: 고대\n700:5:지미 카터\n"
LANGLINK = "5,en,Jimmy Carter),(5,ja,ジミー・カーター),(9,ja,数学\n"
HANJA = "수학:數學:산수, 수식\n가:家:가족\n"


def write_raw(raw, wiki=WIKI, langlink=LANGLINK, hanja=HANJA) -> str:
    """The three raw files; a None body leaves that file out."""
    raw.mkdir(parents=True, exist_ok=True)
    for name, body in (("wiki_index.txt", wiki), ("langlink.txt", langlink), ("hanja.txt", hanja)):
        if body is not None:
            (raw / name).write_text(body, encoding="utf-8")
    return str(raw)


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    raw = write_raw(tmp_path_factory.mktemp("raw"))
    stage = str(tmp_path_factory.mktemp("stage"))
    return run_reference_pipeline(spark, raw, stage)


def test_tables_loaded_with_identity(result):
    assert result.korean.columns == ["edit_id", "word_id", "korean", "data_id"]
    assert result.row_count == 4
    ids = [r["data_id"] for r in result.korean.collect()]
    assert len(set(ids)) == len(ids)


def test_dq_checks_pass(result):
    assert result.max_word_id_len <= 13


def test_dimension_preserves_language_fanout(result):
    """dag-knlp.py:78 joins on article_id with NO language filter — an
    article linking to en and ja yields a row per language (the quirk
    the oracle must reproduce, SURVEY.md §2.3)."""
    rows = result.dimension.collect()
    word5 = {(r["korean"], r["japanese"]) for r in rows if r["word_id"] == "5"}
    assert word5 == {("지미 카터", "Jimmy Carter"), ("지미 카터", "ジミー・カーター")}


def test_dimension_distinct_dedups_duplicate_titles(result):
    """word_id 5 appears twice in the index (edit 600 and 700) with the
    same title; DISTINCT on the 4 projected columns collapses them —
    so exactly 2 rows remain for word 5 (one per language), not 4."""
    n5 = sum(1 for r in result.dimension.collect() if r["word_id"] == "5")
    assert n5 == 2


def test_dimension_left_join_null_semantics(result):
    rows = {r["word_id"]: r for r in result.dimension.collect()}
    # word 42 has no langlink and no hanja entry → NULLs preserved
    assert rows["42"]["japanese"] is None
    assert rows["42"]["hanjya"] is None
    # word 9 joins hanja via the korean title (수학 → 數學)
    assert rows["9"]["hanjya"] == "數學"


def test_ragged_wiki_title_survives_parse(result):
    """'역사: 고대' contains the delimiter — the wiki-index parse packs
    the overflow back into the title column (dag-knlp.py:136-137), so
    the full title reaches the dimension table intact."""
    rows = {r["word_id"]: r for r in result.dimension.collect()}
    assert rows["42"]["korean"] == "역사: 고대"


def test_all_null_staged_column_loads_as_null(spark, tmp_path):
    """The JSON writer omits NULL fields, so a column NULL in every row
    never appears in the staged files (here: hanja lines with no
    examples field). The load binds to the DDL schema, so the column
    still exists, reads as NULL, and the hanja join still works."""
    raw = write_raw(tmp_path / "raw", hanja="수학:數學\n가:家\n")
    r = run_reference_pipeline(spark, raw, str(tmp_path / "stage"))
    assert r.korean_hanjya.columns == ["korean", "hanjya", "examples", "data_id"]
    assert [row["examples"] for row in r.korean_hanjya.collect()] == [None, None]
    rows = {row["word_id"]: row for row in r.dimension.collect()}
    assert rows["9"]["hanjya"] == "數學"


def test_empty_input_fails_the_row_count_check(spark, tmp_path):
    """An empty wiki index stages no titles; the load still has its DDL
    columns, so the reference's row-count check is what fails
    (dag-knlp.py:253-258), not column resolution."""
    raw = write_raw(tmp_path / "raw", wiki="")
    with pytest.raises(ValueError, match=r"Data quality check failed. Rows 0 < 1"):
        run_reference_pipeline(spark, raw, str(tmp_path / "stage"))


def test_parse_stage_jobs_carry_the_callers_job_group(spark, tmp_path, jobs_under_group):
    """The three staging writes run on their own threads, yet every job
    they submit carries the job group set on the calling thread."""
    raw = write_raw(tmp_path / "raw")
    grouped, ungrouped = jobs_under_group(
        "parse-stage", lambda: parse_stage(spark, raw, str(tmp_path / "stage"))
    )
    assert len(grouped) >= 3  # one write per table
    assert ungrouped == set()


def test_parse_stage_failure_waits_for_the_other_writes(spark, tmp_path):
    """A branch that fails (hanja.txt missing) raises from parse_stage
    only after the other two branches have finished: their writes have
    committed and no job is left running."""
    sc = spark.sparkContext
    raw = write_raw(tmp_path / "raw", hanja=None)
    stage = tmp_path / "stage"
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        parse_stage(spark, raw, str(stage))
    assert os.path.exists(stage / "titles" / "_SUCCESS")
    assert os.path.exists(stage / "langlinks" / "_SUCCESS")
    assert not (stage / "hanjya").exists()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    assert sc.statusTracker().getActiveJobsIds() == []


def test_corpus_funnel_is_monotone_and_consistent(spark, sf_dir):
    from etl_knlp_spark.plans.corpus import corpus_funnel

    n = {r["stage"]: r["n"] for r in corpus_funnel(spark, sf_dir).collect()}
    assert set(n) == {"raw", "clean", "quality", "dedup", "packed"}
    # every filter stage can only shrink the doc set
    assert n["raw"] >= n["clean"] >= n["quality"] >= n["dedup"] > 0
    # packing merges docs into sequences: never more sequences than docs
    assert 0 < n["packed"] <= n["dedup"]
