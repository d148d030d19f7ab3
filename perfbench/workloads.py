"""The closed-loop workloads: one client, one operation at a time.

Each workload generates (or reuses) its seeded inputs, computes the
expected outputs outside Spark, and runs passes through the package's
public functions. A pass is one operation: it returns its timed
seconds, and its output is checked outside the timed region.

- ``reference_etl``: ``plans.pipeline.run_reference_pipeline`` on the
  raw-text fixture, the dimension materialized at the end.
- ``corpus_prep``: clean -> quality -> exact dedup -> MinHash near-dup
  removal -> packing -> parquet shard write on an amplified corpus.

Each bypasses the other's layers: the reference DAG has no dedup,
packing or Python workers, the corpus chain no text parsing, staging
or relational joins.

With ``layers=True`` a pass records a span around each call into the
package (traced run): the reference DAG runs unchanged with
``plans.pipeline``'s stage functions wrapped in spans, and the corpus
chain materializes each layer boundary separately.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import re
import shutil
import time
from collections import defaultdict

import inputs

SEP, NULL = "\x01", "\x00"  # row-digest field separator and NULL marker


class Op:
    """One operation: one pass of a pipeline."""

    __slots__ = ("name", "seconds", "ok", "error")

    def __init__(self, name: str, seconds: float, ok: bool, error: str | None = None):
        self.name, self.seconds, self.ok, self.error = name, seconds, ok, error


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def _tree_bytes(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                n_files += 1
    return n_bytes, n_files


CACHE_KEEP = 6  # most recently used entries kept per workload


def _prune(cache_dir: str) -> None:
    root, key = os.path.split(cache_dir)
    prefix = key.rsplit("-", 2)[0] + "-"
    entries = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith(prefix) and os.path.exists(os.path.join(root, d, "meta.json"))
    ]
    entries.sort(key=lambda d: os.path.getmtime(os.path.join(d, "meta.json")), reverse=True)
    for old in entries[CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)


def _cached(cache_dir: str, build) -> dict:
    """Run ``build(tmp_dir)`` once per cache key; the directory is
    renamed into place only when complete, so an interrupted run never
    leaves a half-written cache entry. Older entries of the same
    workload are pruned to CACHE_KEEP."""
    meta = os.path.join(cache_dir, "meta.json")
    if not os.path.exists(meta):
        tmp = cache_dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(info, f, sort_keys=True)
        shutil.rmtree(cache_dir, ignore_errors=True)
        os.rename(tmp, cache_dir)
    os.utime(meta)
    _prune(cache_dir)
    with open(meta) as f:
        return json.load(f)


class Workload:
    name = ""
    size = 0
    records = 0  # input records per pass
    # Untimed passes between set-up and the measured window: for the
    # first few passes after the warm-up the JIT is still compiling hot
    # paths (CPU per pass falls by half), and a median taken on that
    # slope depends on how much CPU the host leaves the compiler.
    settle_passes = 1
    # A run measures at least this many passes, so that its median is
    # not one pass that a burst of host load happened to hit.
    min_passes = 5

    def __init__(self, cache_root: str, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.cache_dir = os.path.join(cache_root, f"{self.name}-{self.seed}-{self.size}")

    def prepare(self) -> None:
        self.meta = _cached(self.cache_dir, self.build)

    def build(self, out_dir: str) -> dict:
        raise NotImplementedError

    def first_load(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer, layers: bool) -> tuple[float, list[Op]]:
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Counts gathered by traced passes (medians taken by the caller)."""
        return {}


def _layer(tracer, layers: bool, name: str):
    return tracer.span(name) if layers else contextlib.nullcontext()


@contextlib.contextmanager
def _spanned(module, tracer, spans: dict[str, str]):
    """Wrap ``module``'s functions named in ``spans`` (attribute -> span
    name) in spans for the duration of the block, so that a traced pass
    runs the module's own composition unchanged."""
    saved = {attr: getattr(module, attr) for attr in spans}

    def wrap(fn, name):
        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return spanned

    for attr, name in spans.items():
        setattr(module, attr, wrap(saved[attr], name))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


# ---------------------------------------------------------------------
# reference_etl
# ---------------------------------------------------------------------

DIM_COLS = ["word_id", "korean", "japanese", "hanjya"]


def dimension_digest(dimension) -> tuple[int, int]:
    """(rows, sum of a 32-bit md5 prefix per row): one aggregate that
    materializes the whole dimension and pins its contents."""
    from pyspark.sql import functions as F

    row = F.concat_ws(SEP, *[F.coalesce(F.col(c), F.lit(NULL)) for c in DIM_COLS])
    h = F.conv(F.substring(F.md5(row), 1, 8), 16, 10).cast("bigint")
    r = dimension.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def reference_expectations(raw_dir: str) -> dict:
    """The reference DAG's outputs computed in plain Python from the
    raw files: the parse rules of dag-knlp.py (ragged fields rejoined
    into the last column), LEFT JOIN fan-out and SELECT DISTINCT."""
    def lines(name):
        with open(os.path.join(raw_dir, name), encoding="utf-8") as f:
            return [ln.rstrip("\n") for ln in f if ln.strip()]

    wiki = [ln.split(":") for ln in lines("wiki_index.txt")]
    wiki = [(p[1], ":".join(p[2:])) for p in wiki]
    hanja: dict[str, list[str]] = defaultdict(list)
    for ln in lines("hanja.txt"):
        p = ln.split(":")
        hanja[p[0]].append(p[1])
    links: dict[str, list[str]] = defaultdict(list)
    for ln in lines("langlink.txt"):
        for tup in ln.split("),("):
            if tup.strip():
                p = tup.split(",")
                links[p[0]].append(",".join(p[2:]))
    dim = set()
    for word_id, korean in wiki:
        for text in links.get(word_id) or [None]:
            for hj in hanja.get(korean) or [None]:
                dim.add((word_id, korean, text, hj))
    digest = sum(_md5_int(SEP.join(NULL if v is None else v for v in row)) for row in dim)
    return {
        "korean_rows": len(wiki),
        "max_word_id_len": max(len(w) for w, _ in wiki),
        "dimension_rows": len(dim),
        "dimension_digest": digest,
    }


# plans.pipeline's stage functions and the layer each one is
# (build_dimension only plans; the dimension is materialized by
# dimension_digest, also under dimension.build).
REFERENCE_SPANS = {
    "parse_stage": "sources.parse_stage",
    "load_tables": "sources.load",
    "build_dimension": "dimension.build",
    "check_count": "quality.checks",
    "check_max_length": "quality.checks",
}


class ReferenceETL(Workload):
    name = "reference_etl"
    size = 150_000  # wiki-index and hanja lines; langlink has size/10 lines of 10 tuples

    def build(self, out_dir: str) -> dict:
        raw = os.path.join(out_dir, "raw")
        inputs.reference_fixture(raw, self.seed, self.size)
        return reference_expectations(raw)

    def prepare(self) -> None:
        super().prepare()
        self.raw = os.path.join(self.cache_dir, "raw")
        self.records = 2 * self.size + self.size // 10
        self.stats: dict[str, list[float]] = defaultdict(list)

    def first_load(self, spark) -> None:
        from etl_knlp_spark.plans.pipeline import KOREAN_COLS
        from etl_knlp_spark.sources.text import read_delimited

        read_delimited(spark, os.path.join(self.raw, "wiki_index.txt"), KOREAN_COLS).count()

    def run_pass(self, spark, tracer, layers):
        from etl_knlp_spark.plans import pipeline

        stage = os.path.join(self.run_dir, "stage")
        shutil.rmtree(stage, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            with _spanned(pipeline, tracer, REFERENCE_SPANS if layers else {}):
                result = pipeline.run_reference_pipeline(spark, self.raw, stage)
                with _layer(tracer, layers, "dimension.build"):
                    n_dim, digest = dimension_digest(result.dimension)
        except Exception as e:  # a failed pass is a failed operation, not a crash
            return time.perf_counter() - t0, [Op("pass", time.perf_counter() - t0, False, repr(e))]
        seconds = time.perf_counter() - t0
        if layers:
            staged_bytes, staged_files = _tree_bytes(stage)
            self.stats["sources.staged_bytes"].append(staged_bytes)
            self.stats["sources.staged_files"].append(staged_files)
            self.stats["dimension.rows_out"].append(n_dim)
        rows, max_len, m = result.row_count, result.max_word_id_len, self.meta
        ok = (
            rows == m["korean_rows"]
            and max_len == m["max_word_id_len"]
            and n_dim == m["dimension_rows"]
            and digest == m["dimension_digest"]
        )
        err = None if ok else f"rows={rows} max_len={max_len} dim=({n_dim},{digest}) expected {m}"
        shutil.rmtree(stage, ignore_errors=True)
        return seconds, [Op("pass", seconds, ok, err)]

    def layer_metrics(self) -> dict:
        return dict(self.stats)


# ---------------------------------------------------------------------
# corpus_prep
# ---------------------------------------------------------------------

_WS = re.compile(r"\s+")
JACCARD_MIN = 0.7  # minhash_pairs' verification threshold
RECALL_MIN = 0.95  # planted near-dup pairs are at Jaccard >= 0.85


def _toks(text: str) -> list[str]:
    return _WS.split(text.lower().strip(" "))


def _shingles(toks: list[str]) -> set:
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def corpus_expectations(docs: dict) -> dict:
    """clean -> quality -> exact-dedup survivors computed in Python with
    plans/corpus.py's rules (5-token floor; length + stopword quality
    >= 0.5; minimum doc_id per normalized-text md5)."""
    funnel = {"raw": len(docs["doc_id"])}
    clean = []
    for i, t in zip(docs["doc_id"], docs["text"]):
        if t is not None and len(_toks(t)) >= 5:
            clean.append((i, t))
    funnel["clean"] = len(clean)
    qual = []
    for i, t in clean:
        toks = _toks(t)
        n_stop = sum(1 for x in toks if x in ("the", "a"))
        q = min(len(t) / 500.0, 1.0) * 0.5 + min(n_stop * 5.0 / len(toks), 1.0) * 0.5
        if q >= 0.5:
            qual.append((i, t))
    funnel["quality"] = len(qual)
    first: dict[str, int] = {}
    for i, t in qual:
        key = _WS.sub(" ", t.lower()).strip(" ")
        first[key] = min(i, first.get(key, i))
    survivors = sorted(first.values())
    funnel["dedup"] = len(survivors)
    return {"funnel": funnel, "survivors": survivors}


class CorpusPrep(Workload):
    name = "corpus_prep"
    size = 8_000  # documents

    def build(self, out_dir: str) -> dict:
        rows = inputs.documents_corpus(os.path.join(out_dir, "sf"), self.seed, self.size)
        exp = corpus_expectations(rows)
        qual_ids = set(exp["survivors"])
        exact_removed = sum(1 for a, b in rows["exact_pairs"] if a in qual_ids)
        exp["planted_exact_removed"] = exact_removed
        exp["exact_pairs"] = rows["exact_pairs"]
        exp["near_pairs"] = rows["near_pairs"]
        return exp

    def prepare(self) -> None:
        super().prepare()
        import pyarrow.parquet as pq

        self.sf = os.path.join(self.cache_dir, "sf")
        t = pq.read_table(os.path.join(self.sf, "documents.parquet"), columns=["doc_id", "lang", "text"])
        d = t.to_pydict()
        self.lang = dict(zip(d["doc_id"], d["lang"]))
        self.toks = {i: _toks(x) for i, x in zip(d["doc_id"], d["text"]) if x is not None}
        self.records = t.num_rows
        self.survivors = self.meta["survivors"]
        surv = set(self.survivors)
        self.eligible_near = [(a, b) for a, b in self.meta["near_pairs"] if a in surv and b in surv]
        # the funnel must remove exactly the planted exact copies
        f = self.meta["funnel"]
        if f["quality"] - f["dedup"] != self.meta["planted_exact_removed"]:
            raise RuntimeError("corpus generator planted unexpected exact duplicates")
        self.stats: dict[str, list[float]] = defaultdict(list)

    def first_load(self, spark) -> None:
        from etl_knlp_spark.catalog import load_table

        load_table(spark, self.sf, "documents").count()

    def _chain(self, spark, tracer, layers):
        """The corpus chain; with ``layers`` each boundary is
        materialized on its own (eager local checkpoint) inside a span."""
        from pyspark.sql import functions as F

        from etl_knlp_spark.catalog import load_table
        from etl_knlp_spark.operators.dedup import minhash_candidates
        from etl_knlp_spark.operators.packing import DEFAULT_BUDGET, pack_sequences
        from etl_knlp_spark.plans.corpus import clean_docs, dedup_survivors, quality_filter

        out = os.path.join(self.run_dir, "shards")
        docs = load_table(spark, self.sf, "documents")
        with _layer(tracer, layers, "corpus.prefilter"):
            pre = dedup_survivors(quality_filter(clean_docs(docs)))
            if layers:
                pre = pre.localCheckpoint(eager=True)
                n_pre = pre.count()
        with _layer(tracer, layers, "dedup.minhash"):
            cands = minhash_candidates(pre)
            if layers:
                cands = cands.localCheckpoint(eager=True)
                n_cands = cands.count()
            inter = F.size(F.array_intersect("sh_a", "sh_b"))
            union = F.size(F.array_union("sh_a", "sh_b"))
            verified = cands.filter(inter * 1.0 / union >= JACCARD_MIN).select("doc_a", "doc_b")
            if layers:
                verified = verified.localCheckpoint(eager=True)
                pairs = [(r[0], r[1]) for r in verified.collect()]
            dropped = verified.select(F.col("doc_b").alias("doc_id")).distinct()
            survivors = pre.join(dropped, "doc_id", "left_anti")
        with _layer(tracer, layers, "packing.pack"):
            packed = pack_sequences(survivors)
            if layers:
                packed = packed.localCheckpoint(eager=True)
                fill = packed.agg(
                    F.sum("n_tokens").alias("t"),
                    F.countDistinct("lang", "seq_id").alias("s"),
                ).first()
        with _layer(tracer, layers, "sink.write"):
            packed.join(survivors.select("doc_id", "text"), "doc_id").write.mode(
                "overwrite"
            ).parquet(out)
        if layers:
            n_raw = self.records
            self.stats["corpus.survival_ratio"].append(n_pre / n_raw)
            self.stats["dedup.candidate_pairs"].append(n_cands)
            self.stats["dedup.verified_pairs"].append(len(pairs))
            self.stats["dedup.verify_yield"].append(len(pairs) / n_cands if n_cands else 0.0)
            found = set(pairs)
            hit = sum(1 for p in self.eligible_near if p in found)
            self.stats["dedup.planted_recall"].append(hit / len(self.eligible_near))
            self.stats["packing.fill_ratio"].append(fill["t"] / (fill["s"] * DEFAULT_BUDGET))
            self.stats["sink.bytes"].append(_tree_bytes(out)[0])
            if n_pre != self.meta["funnel"]["dedup"]:
                raise RuntimeError(f"prefilter kept {n_pre} docs, expected {self.meta['funnel']['dedup']}")
        return out

    def run_pass(self, spark, tracer, layers):
        t0 = time.perf_counter()
        try:
            out = self._chain(spark, tracer, layers)
        except Exception as e:
            return time.perf_counter() - t0, [Op("pass", time.perf_counter() - t0, False, repr(e))]
        seconds = time.perf_counter() - t0
        with tracer.span("check"):
            rows = spark.read.parquet(out).select("doc_id", "lang", "seq_id", "n_tokens").collect()
        err = self.check(rows)
        shutil.rmtree(out, ignore_errors=True)
        return seconds, [Op("pass", seconds, err is None, err)]

    def check(self, rows) -> str | None:
        """The written shards against the Python reference: only
        prefilter survivors are kept; every dropped survivor has a
        smaller-id survivor within the Jaccard threshold; planted
        near-dup recall holds; and the packing equals a greedy in-order
        walk over the kept docs."""
        kept = {r[0]: r for r in rows}
        if len(kept) != len(rows):
            return "a document was written twice"
        surv = self.survivors
        if not set(kept) <= set(surv):
            return "shards hold documents that clean/quality/exact dedup should drop"
        dropped = [d for d in surv if d not in kept]
        by_src = defaultdict(list)  # planted near-dup families
        for a, b in self.meta["near_pairs"]:
            by_src[a].append(b)
            by_src[b].append(a)
        kept_or_dropped = set(surv)
        for d in dropped:
            sd = _shingles(self.toks[d])
            family = set(by_src[d]) | {y for x in by_src[d] for y in by_src[x]}
            cands = [a for a in family if a < d and a in kept_or_dropped]
            if not any(_jaccard(sd, _shingles(self.toks[a])) >= JACCARD_MIN for a in cands):
                if not any(
                    _jaccard(sd, _shingles(self.toks[a])) >= JACCARD_MIN for a in surv if a < d
                ):
                    return f"doc {d} dropped without a near duplicate"
        hit = sum(1 for a, b in self.eligible_near if b not in kept)
        if hit < RECALL_MIN * len(self.eligible_near):
            return f"planted near-dup recall {hit}/{len(self.eligible_near)} < {RECALL_MIN}"
        from etl_knlp_spark.operators.packing import DEFAULT_BUDGET

        state: dict[str, tuple[int, int]] = {}
        for d in sorted(kept):
            lang, n = self.lang[d], len(self.toks[d])
            seq, used = state.get(lang, (0, 0))
            if used > 0 and used + n > DEFAULT_BUDGET:
                seq, used = seq + 1, 0
            state[lang] = (seq, used + n)
            r = kept[d]
            if r[1] != lang or r[2] != seq or r[3] != n:
                return f"doc {d} packed as {tuple(r)}, expected ({lang}, {seq}, {n})"
        return None

    def layer_metrics(self) -> dict:
        return dict(self.stats)


WORKLOADS = {w.name: w for w in (ReferenceETL, CorpusPrep)}
