"""Seeded input generators for the two benchmark workloads.

Every generator is a pure function of its arguments: the same
(seed, size) writes byte-identical files, so a cache keyed by
(workload, seed, size) can be trusted across runs. Nothing here reads
outside the directory it is given.

- ``reference_fixture``: the reference DAG's three raw-text inputs
  (``wiki_index.txt``, ``hanja.txt``, ``langlink.txt``) in the formats
  FIXTURES.md recovers from dag-knlp.py, with ragged delimiter-in-title
  lines, hanja fan-out, duplicate hanja lines and langlink fan-out.
- ``documents_corpus``: a documents table amplified from the sf0.1
  test table's (TESTDATA.md) per-language length and token distributions, with
  planted exact and near duplicates whose pair lists are returned.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- distributions measured on the sf0.1 documents test table ---
# (5000 docs; every language draws uniformly from the same 30-word
# vocabulary, 'the' and 'a' included; whitespace token counts are
# uniform between the per-language bounds below).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANG_SHARE = {"en": 0.412, "de": 0.140, "es": 0.149, "fr": 0.148, "zh": 0.151}
LANG_TOKENS = {"en": (10, 100), "de": (10, 100), "es": (10, 100), "fr": (10, 100), "zh": (10, 93)}
N_SOURCES = 20

# Planted rates: (exact copies, near copies, 2-4 token docs, NULL
# texts). sf0.1 itself has 0.2% exact and 5% ' dup'-suffixed near
# copies and no degenerate docs; the amplified corpus adds more exact
# copies and the degenerate docs that clean_docs exists to drop.
CORPUS_RATES = (0.03, 0.05, 0.01, 0.005)

_PQ_OPTS = {"compression": "snappy", "write_statistics": True}


def _write_table(table: pa.Table, path: str) -> None:
    # No pandas metadata and a fixed writer config, so regeneration is
    # byte-identical.
    pq.write_table(table.replace_schema_metadata(None), path, **_PQ_OPTS)


# ---------------------------------------------------------------------
# reference_etl: raw text in the three reference formats
# ---------------------------------------------------------------------

_SYLLABLES = list(
    "가나다라마바사아자차카타파하고노도로모보소오조초코토포호구누두루무부수우주추"
)
_LANGS = ["en", "ja", "de", "fr", "zh"]


def _korean_vocab(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choices(_SYLLABLES, k=rng.randint(2, 5)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def reference_fixture(raw_dir: str, seed: int, n_lines: int) -> dict[str, int]:
    """Write the three raw files with ``n_lines`` wiki-index lines,
    ``n_lines`` hanja lines and ``n_lines // 10`` langlink lines of ten
    tuples each (the shape of tools/bench_reference_e2e.py's fixture).

    - Titles draw from a vocabulary twice the line count, and hanja
      keys from the same vocabulary, so about 40% of titles find a
      hanja row (FIXTURES.md) and matched words fan out to 1+ rows.
    - Every 500th title holds the ':' delimiter (ragged overflow path);
      every 200th hanja line's examples hold one too.
    - 1% of hanja lines repeat an earlier line, so the dimension's
      DISTINCT removes rows.
    - Langlink tuples point at random word_ids in several languages
      (fan-out); every 100th text contains a comma (tuple overflow).
    """
    rng = random.Random(seed)
    vocab = _korean_vocab(rng, 2 * n_lines)
    os.makedirs(raw_dir, exist_ok=True)
    with open(os.path.join(raw_dir, "wiki_index.txt"), "w", encoding="utf-8") as f:
        for i in range(n_lines):
            title = vocab[rng.randrange(len(vocab))]
            if i % 500 == 499:
                title = f"{title}: 부제"
            f.write(f"{600 + rng.randrange(10**7)}:{1000 + i}:{title}\n")
    with open(os.path.join(raw_dir, "hanja.txt"), "w", encoding="utf-8") as f:
        lines: list[str] = []
        for i in range(n_lines):
            if lines and i % 100 == 99:
                line = lines[rng.randrange(len(lines))]
            else:
                word = vocab[rng.randrange(len(vocab))]
                examples = f"예문{i}, 용례{rng.randrange(1000)}"
                if i % 200 == 199:
                    examples += ":보충"
                line = f"{word}:漢{rng.randrange(50_000)}:{examples}"
            lines.append(line)
            f.write(line + "\n")
    n_ll = max(1, n_lines // 10)
    with open(os.path.join(raw_dir, "langlink.txt"), "w", encoding="utf-8") as f:
        for line_no in range(n_ll):
            parts = []
            for j in range(10):
                article = 1000 + rng.randrange(n_lines)
                lang = _LANGS[rng.randrange(len(_LANGS))]
                text = f"title_{lang}_{article}"
                if (line_no * 10 + j) % 100 == 99:
                    text += ", 2nd"
                parts.append(f"{article},{lang},{text}")
            f.write("),(".join(parts) + "\n")
    return {"wiki_lines": n_lines, "hanja_lines": n_lines, "langlink_lines": n_ll}


# ---------------------------------------------------------------------
# corpus_prep: amplified documents table with planted duplicates
# ---------------------------------------------------------------------


def _draw_text(rng: random.Random, lang: str) -> str:
    lo, hi = LANG_TOKENS[lang]
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _near_copy(rng: random.Random, text: str) -> str:
    """A near duplicate: the sf0.1 ' dup' suffix, or (for long docs) one
    token replaced mid-document. Both keep word-3-gram Jaccard >= 0.85."""
    toks = text.split(" ")
    if len(toks) >= 40 and rng.random() < 0.5:
        k = rng.randrange(10, len(toks) - 10)
        toks[k] = "dup"
        return " ".join(toks)
    return text + " dup"


def _recase(rng: random.Random, text: str) -> str:
    """An exact duplicate after normalization (lower + whitespace
    collapse) that is not byte-identical to its original."""
    toks = text.split(" ")
    k = rng.randrange(len(toks))
    toks[k] = toks[k].upper()
    return " ".join(toks)


def documents_rows(seed: int, n_docs: int) -> dict:
    """Column lists for an amplified documents table plus the planted
    duplicate structure: ``exact_pairs`` and ``near_pairs`` are
    (original doc_id, copy doc_id) with original < copy."""
    rng = random.Random(seed)
    exact_rate, near_rate, short_rate, null_rate = CORPUS_RATES
    langs = list(LANG_SHARE)
    weights = [LANG_SHARE[x] for x in langs]
    doc_id, text, lang, source = [], [], [], []
    seen_norm: set[str] = set()
    originals: list[int] = []  # ids of fresh long docs that may be copied
    exact_pairs: list[tuple[int, int]] = []
    near_pairs: list[tuple[int, int]] = []
    for i in range(n_docs):
        lg = rng.choices(langs, weights)[0]
        r = rng.random()
        t: str | None
        if originals and r < exact_rate:
            src = originals[rng.randrange(len(originals))]
            t = _recase(rng, text[src])
            exact_pairs.append((src, i))
        elif originals and r < exact_rate + near_rate:
            src = originals[rng.randrange(len(originals))]
            t = _near_copy(rng, text[src])
            if t.lower() in seen_norm:  # would be an exact dup instead
                t = _draw_text(rng, lg)
            else:
                near_pairs.append((src, i))
        elif r < exact_rate + near_rate + short_rate:
            t = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 4)))
        elif r < exact_rate + near_rate + short_rate + null_rate:
            t = None
        else:
            t = _draw_text(rng, lg)
            while t in seen_norm:
                t = _draw_text(rng, lg)
            originals.append(i)
        if t is not None:
            seen_norm.add(t.lower())
        doc_id.append(i)
        text.append(t)
        lang.append(lg)
        source.append(f"src{i % N_SOURCES}")
    return {
        "doc_id": doc_id,
        "text": text,
        "lang": lang,
        "source": source,
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
    }


def documents_table(rows: dict) -> pa.Table:
    n_chars = [None if t is None else len(t) for t in rows["text"]]
    return pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": pa.array(rows["text"], pa.string()),
            "lang": pa.array(rows["lang"], pa.string()),
            "source": pa.array(rows["source"], pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )


def documents_corpus(sf_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet`` into ``sf_dir`` (the catalog layout,
    so ``catalog.load_table`` reads it) and return the planted pairs."""
    rows = documents_rows(seed, n_docs)
    os.makedirs(sf_dir, exist_ok=True)
    _write_table(documents_table(rows), os.path.join(sf_dir, "documents.parquet"))
    return rows
