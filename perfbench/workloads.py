"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (workload, seed).  Images come from
``ocr_pytorch_spark.datagen`` (``gen_image_array``, ``gen_images``);
documents are shaped here per workload.  The program only ever sees the
Parquet files the ``write_*`` functions produce.

Per-seed variation is in which images a run uses and in document
layout, not in the amount of work: the OCR workload has a fixed pool of
3x more images than it needs, ranked by resized area, and each seed
keeps one image of every three consecutive ranks (stratified sampling),
so the total pixel count, and hence the job's cost, moves little from
seed to seed.  A fixed pool also lets the oracle's transcripts of each
image be computed once and reused by later runs.
"""

from __future__ import annotations

import dataclasses
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])
DOC_SCHEMA = pa.schema([("doc_id", pa.string()),
                        ("spans", pa.list_(SPAN_TYPE))])
IMAGE_SCHEMA = pa.schema([("media_ref", pa.string()),
                          ("height", pa.int32()), ("width", pa.int32()),
                          ("channels", pa.int32()), ("data", pa.binary())])
CORPUS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                           ("lang", pa.string()), ("source", pa.string()),
                           ("n_chars", pa.int64())])

IMAGE_SEED = 0  # datagen seed of every pool image
_WORDS = ("spark shuffle partition anchor proposal text line decode tensor "
          "batch arrow vector parquet lineage resume executor broadcast "
          "skew salt column window join stream query merge scan").split()
_CORPUS_WORDS = ("spark window merge table column vector stream value data "
                 "small join filter big group hash customer sort order "
                 "slow line part fast row the agg key query a scan "
                 "batch").split()
# the ``lang`` label column, which the cleaning job ignores (it predicts
# its own); shares as measured
_CORPUS_LANGS = ("en", "zh", "es", "fr", "de")
_CORPUS_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
CORPUS_ROUNDS = 3  # label-propagation rounds of the measured corpus


@dataclasses.dataclass(frozen=True)
class Workload:
    """One benchmark workload: which job runs and at what size.

    ``docs``: input documents.  ``timed_jobs``: jobs timed per run at
    least.  ``warmup_share``: the set-up's warm-up job runs the first
    1/warmup_share of the docs.  The corpus job, many short Spark jobs,
    runs up to 20% slower after a smaller warm-up than after one on its
    whole input.  ``detect_height`` is None for the corpus job, which
    runs no OCR."""

    name: str
    kind: str  # "ocr" or "corpus"
    docs: int
    timed_jobs: int
    warmup_share: int
    detect_height: int | None = None


WORKLOADS = {
    w.name: w for w in (
        Workload("ocr_unique", "ocr", docs=256, timed_jobs=1,
                 warmup_share=4, detect_height=48),
        Workload("corpus_clean", "corpus", docs=5_000, timed_jobs=1,
                 warmup_share=1),
    )
}


def _rng(seed: int | str, tag: str) -> np.random.Generator:
    h = hashlib.sha256(f"perfbench:{seed}:{tag}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(rng.choice(_WORDS, size=n))


def image_pool(w: Workload) -> list[str]:
    """The workload's 3 x docs image refs, by resized area (which OCR
    cost follows), smallest first."""
    from ocr_pytorch_spark.datagen import gen_image_array

    cand = [f"img-{w.name}-{i:05d}" for i in range(3 * w.docs)]
    area = []
    for ref in cand:
        img, _ = gen_image_array(ref, IMAGE_SEED)
        h, wd = img.shape[:2]
        area.append(wd * w.detect_height / h)
    return [cand[i] for i in np.argsort(area, kind="stable")]


def ocr_documents(w: Workload, seed: int) -> list[dict]:
    """[text, media, text] documents, each pointing at its own image: one
    of every three consecutive ranks of the image pool."""
    rng = _rng(seed, w.name)
    pool = image_pool(w)
    refs = [pool[3 * i + int(k)]
            for i, k in enumerate(rng.integers(0, 3, w.docs))]
    order = rng.permutation(len(refs))
    docs = []
    for i, j in enumerate(order):
        docs.append({"doc_id": f"doc-{seed}-{i:07d}", "spans": [
            ("text", _words(rng, 6), None, 0),
            ("media", None, refs[j], 1),
            ("text", _words(rng, 6), None, 2)]})
    return docs


def corpus_rows(n: int, seed: int) -> list[dict]:
    """Web-text documents shaped like the repository's sf0.1
    ``documents.parquet`` test corpus, as measured there (5,000 docs):
    every word drawn uniformly from one 30-word vocabulary that holds the
    stopwords "the" and "a"; 10 to 99 words a doc, uniformly; 5% of the
    docs replaced by a copy of a random doc with " dup" appended (copies
    of copies and exact duplicates arise from that, as they do there);
    ``source`` is ``src{doc_id % 20}``.  The measured corpus has 4,219
    singleton near-dup components, 284 pairs and 57 larger ones (up to
    14 docs, chained by chance LSH band hits), 8 exact copies, and
    ``corpus_filter`` keeps 413 docs; 5,000 generated docs come out
    alike.

    Chance chains set how many rounds the job's label propagation runs
    (2 to 5 over seeds, each round a few Spark jobs), so a draw that
    needs other than the measured corpus's CORPUS_ROUNDS is redrawn:
    every seed then does the same number of rounds."""
    for attempt in range(20):
        rows = _corpus_draw(n, f"{seed}.{attempt}")
        if label_rounds(rows) in (CORPUS_ROUNDS, None):
            return rows
    raise RuntimeError(f"no corpus with {CORPUS_ROUNDS} rounds for {seed}")


def _corpus_draw(n: int, tag: str) -> list[dict]:
    rng = _rng(tag, "corpus_clean")
    texts = [" ".join(rng.choice(_CORPUS_WORDS, int(k)))
             for k in rng.integers(10, 100, n)]
    copies = rng.choice(n, n // 20, replace=False)
    for i, j in zip(copies, rng.integers(0, n, len(copies))):
        texts[i] = texts[j] + " dup"
    langs = rng.choice(_CORPUS_LANGS, n, p=_CORPUS_LANG_P)
    return [{"doc_id": i, "text": t, "lang": str(lang),
             "source": f"src{i % 20}", "n_chars": len(t)}
            for i, (t, lang) in enumerate(zip(texts, langs))]


def label_rounds(rows: list[dict]) -> int | None:
    """Rounds the job's min-label propagation runs on ``rows`` (the
    last one changes nothing); None when the oracle cannot say."""
    import duckdb

    import checks

    con = duckdb.connect()
    try:
        con.register("documents",
                     pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA))
        found = checks.oracle_components(con)
    finally:
        con.close()
    return found and found[1]


def media_refs(docs: list[dict]) -> list[str]:
    return sorted({s[2] for d in docs for s in d["spans"]
                   if s[0] == "media"})


def write_docs(path: str, docs: list[dict]) -> str:
    tbl = pa.table({"doc_id": [d["doc_id"] for d in docs],
                    "spans": [d["spans"] for d in docs]}, schema=DOC_SCHEMA)
    pq.write_table(tbl, path)
    return path


def write_images(path: str, refs: list[str]) -> str:
    from ocr_pytorch_spark.datagen import gen_images

    rows = gen_images(refs, IMAGE_SEED)
    pq.write_table(pa.Table.from_pylist(rows, schema=IMAGE_SCHEMA), path)
    return path


def write_corpus(path: str, rows: list[dict]) -> str:
    pq.write_table(pa.Table.from_pylist(rows, schema=CORPUS_SCHEMA), path)
    return path
