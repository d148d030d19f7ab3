"""The reference's complete DAG as one Spark program (SURVEY.md §3).

The reference orchestrates with Airflow: three parallel pandas parsers
staging JSON to S3 (E1, dag-knlp.py:85-188, 304-320), three Redshift
COPY loads (E2, dag-knlp.py:192-241), a dimension-build INSERT...SELECT
(E3, dag-knlp.py:65-80), then two data-quality checks
(dag-knlp.py:243-279). Here the same stages are plain function
composition over DataFrames. The preprocess fan-out
(dag-knlp.py:410-415) runs as in the DAG: the three parse-and-stage
branches run on their own threads, so their write jobs are submitted
together and share the cluster's task slots. The Airflow barriers
(DummyOperator, dag-knlp.py:300-302) are joining those threads and
then action sequencing. The loads bind the staged JSON to the DDL
schema (every column a string, the reference's VARCHARs), so they
run no inference scan.

Known reference bugs are NOT replicated (SURVEY.md §7): the hanja
`hanja`-vs-`hanjya` key mismatch that NULLed a whole column, the
langlink stop_line that never fired, and the chunk-bucket mixup. The
declared semantics are implemented; the bug behaviors are documented
in tests as divergences.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.quality import check_count, check_max_length
from ..sources.io import read_json_auto, write_json_lines
from ..sources.text import read_delimited, read_tuple_burst
from .dimension import with_identity

# DDL column orders (dag-knlp.py:24-63), minus the engine-side data_id.
KOREAN_COLS = ["edit_id", "word_id", "korean"]
KOREAN_JAPANESE_COLS = ["article_id", "language", "text"]
KOREAN_HANJYA_COLS = ["korean", "hanjya", "examples"]


@dataclass
class PipelineResult:
    korean: DataFrame
    korean_japanese: DataFrame
    korean_hanjya: DataFrame
    dimension: DataFrame
    row_count: int
    max_word_id_len: int


def _ddl_schema(columns: list[str]) -> T.StructType:
    """A staged table's DDL as a Spark schema: every column VARCHAR in
    the reference (dag-knlp.py:24-63), a string here."""
    return T.StructType([T.StructField(c, T.StringType()) for c in columns])


def _run_concurrently(calls: list[Callable[[], None]]) -> None:
    """Run each call on its own ``InheritableThread``, join them all,
    then re-raise the first failure in ``calls`` order. The threads
    copy the caller's local properties (job group, job description,
    scheduler pool), so every job they submit carries the caller's
    labels. Joining before raising means no call is still running
    when this returns or raises."""
    errors: list[BaseException | None] = [None] * len(calls)

    def run(i: int) -> None:
        try:
            calls[i]()
        except BaseException as e:  # re-raised on the calling thread
            errors[i] = e

    threads = [InheritableThread(run, args=(i,)) for i in range(len(calls))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e


def parse_stage(spark: SparkSession, raw_dir: str, stage_dir: str) -> None:
    """E1: three parallel parses → chunked JSON-lines staging.

    Mirrors read_hanjya / read_title / read_langlink
    (dag-knlp.py:85-188) as distributed text scans + split/explode
    expressions; the 10k-row chunking (dag-knlp.py:139-145) is the
    writer's maxRecordsPerFile. As in the DAG's preprocess fan-out
    (dag-knlp.py:410-415), the three branches run at the same time:
    each parses its raw file and writes its staging directory on its
    own thread, so the small langlink job and each write's straggler
    tasks share the task slots instead of leaving them idle between
    one-at-a-time jobs. Every job keeps the caller's job group and
    description. All three branches finish before this returns; if
    any failed (a missing raw file, a failed write), the first failure
    in hanjya, titles, langlinks order is raised after the others
    have finished.
    """

    def stage(name: str, parse: Callable[[], DataFrame]) -> Callable[[], None]:
        out = os.path.join(stage_dir, name)
        return lambda: write_json_lines(parse(), out, max_records_per_file=10_000)

    hanja, wiki, langlink = (
        os.path.join(raw_dir, f) for f in ("hanja.txt", "wiki_index.txt", "langlink.txt")
    )
    _run_concurrently(
        [
            stage("hanjya", lambda: read_delimited(spark, hanja, KOREAN_HANJYA_COLS, sep=":")),
            stage("titles", lambda: read_delimited(spark, wiki, KOREAN_COLS, sep=":")),
            stage("langlinks", lambda: read_tuple_burst(spark, langlink, KOREAN_JAPANESE_COLS)),
        ]
    )


def load_tables(spark: SparkSession, stage_dir: str) -> dict[str, DataFrame]:
    """E2: bulk load staged JSON by name binding (COPY ... JSON 'auto',
    dag-knlp.py:202-239) against the tables' DDL schema, projecting to
    DDL column order, then adding the identity surrogate
    (INT IDENTITY(1,1) → engine policy). Binding to the known schema
    skips a full inference scan of the staging area, and a column that
    is NULL in every staged row (the writer omits NULL fields) still
    loads, as NULL."""
    return {
        table: with_identity(
            read_json_auto(spark, os.path.join(stage_dir, staged), schema=_ddl_schema(cols))
        )
        for table, staged, cols in (
            ("korean", "titles", KOREAN_COLS),
            ("korean_japanese", "langlinks", KOREAN_JAPANESE_COLS),
            ("korean_hanjya", "hanjya", KOREAN_HANJYA_COLS),
        )
    }


def build_dimension(tables: dict[str, DataFrame]) -> DataFrame:
    """E3: the dimension query, column-for-column from dag-knlp.py:72-79:

        SELECT DISTINCT korean.word_id, korean.korean,
                        korean_japanese.text,     -- → japanese
                        korean_hanjya.hanjya
        FROM korean
        LEFT JOIN korean_japanese ON korean.word_id = korean_japanese.article_id
        LEFT JOIN korean_hanjya   ON korean.korean  = korean_hanjya.korean

    The join QUIRK is preserved (SURVEY.md §2.3): no language filter, so
    an article with langlinks in many languages fans out to one row per
    language even though the target column is named `japanese`.
    """
    k = tables["korean"]
    kj = tables["korean_japanese"]
    kh = tables["korean_hanjya"]
    return (
        k.join(kj, k.word_id == kj.article_id, "left")
        .join(kh, k.korean == kh.korean, "left")
        .select(
            k.word_id,
            k.korean,
            kj.text.alias("japanese"),
            kh.hanjya,
        )
        .distinct()
    )


def run_reference_pipeline(spark: SparkSession, raw_dir: str, stage_dir: str) -> PipelineResult:
    """E1 → E2 → E3 → DQ, end to end. Raises ValueError on DQ
    violation, exactly like the reference's check tasks
    (dag-knlp.py:253-258, 274-279; threshold 13 from :400)."""
    parse_stage(spark, raw_dir, stage_dir)
    tables = load_tables(spark, stage_dir)
    dimension = with_identity(build_dimension(tables))
    n = check_count(tables["korean"], min_rows=1)
    max_len = check_max_length(tables["korean"], "word_id", 13)
    return PipelineResult(
        korean=tables["korean"],
        korean_japanese=tables["korean_japanese"],
        korean_hanjya=tables["korean_hanjya"],
        dimension=dimension.select("word_id", "korean", "japanese", "hanjya"),
        row_count=n,
        max_word_id_len=max_len,
    )
