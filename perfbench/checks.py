"""Expected outputs and the output check run after every timed job.

OCR workloads compare the written span table with
``oracle.extract_document`` on (doc_id, kind, text, media_ref, offset).
The corpus workload compares the cleaned doc set, with its quality
score and language label, with the repository's DuckDB oracles
(``dedup_components``, ``dedup_keeper_policy``, ``corpus_filter``).
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from workloads import DOC_SCHEMA


def load_weights():
    from ocr_pytorch_spark.models import weights as W

    d = W.weights_dir()
    return (W.load_npz(os.path.join(d, "ctpn.npz")),
            W.load_npz(os.path.join(d, "crnn.npz")))


_POOL_WEIGHTS: tuple | None = None


def _pool_ocr(args: tuple) -> tuple[str, list]:
    # runs in a pool process: weights load once per process; a failure
    # raises in the parent rather than respawning workers forever
    global _POOL_WEIGHTS
    from ocr_pytorch_spark.config import PipelineConfig
    from ocr_pytorch_spark.datagen import gen_image_array
    from ocr_pytorch_spark.oracle import ocr_image

    ref, seed, detect_height = args
    img, _ = gen_image_array(ref, seed)
    if _POOL_WEIGHTS is None:
        _POOL_WEIGHTS = load_weights()
    ctpn, crnn = _POOL_WEIGHTS
    return ref, ocr_image(img, ctpn, crnn,
                          PipelineConfig(detect_height=detect_height))


def oracle_transcripts(refs: list[str], seed: int, detect_height: int,
                       workers: int) -> dict[str, list]:
    """ref -> oracle (box_order, transcript) pairs, computed by a spawn
    pool of single-threaded processes (BLAS settings are inherited from
    this process's environment, as the Spark workers inherit them)."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    jobs = [(r, seed, detect_height) for r in refs]
    with ctx.Pool(max(1, min(workers, len(refs)))) as pool:
        return dict(pool.imap_unordered(_pool_ocr, jobs))


def ocr_expected(docs: list[dict], transcripts: dict[str, list],
                 detect_height: int) -> pa.Table:
    """Oracle output for ``docs`` given per-ref transcripts, sorted by
    doc_id (the job writes docs in bucket order)."""
    from ocr_pytorch_spark.config import PipelineConfig
    from ocr_pytorch_spark.oracle import extract_document

    cfg = PipelineConfig(detect_height=detect_height)
    rows = []
    for d in docs:
        doc = {"doc_id": d["doc_id"], "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in d["spans"]]}
        rows.append(extract_document(doc, None, None, None, cfg,
                                     ocr_for_ref=transcripts.__getitem__))
    return (pa.Table.from_pylist(rows, schema=DOC_SCHEMA)
            .sort_by("doc_id").combine_chunks())


def read_output(dst: str, columns: list[str]) -> pa.Table:
    """``columns`` of the job's committed span/doc table plus its
    ``bucket`` partition value."""
    files = sorted(glob.glob(os.path.join(dst, "data", "bucket=*",
                                          "*.parquet")))
    parts = []
    for f in files:
        t = pq.read_table(f, columns=columns)
        bucket = int(os.path.basename(os.path.dirname(f)).split("=")[1])
        parts.append(t.append_column(
            "bucket", pa.array([bucket] * t.num_rows, pa.int32())))
    if not parts:  # every doc filtered out: the job writes no files
        return pa.table({c: pa.array([], pa.null())
                         for c in columns + ["bucket"]})
    return pa.concat_tables(parts)


def check_ocr(dst: str, expected: pa.Table, doc_refs: dict[str, set],
              buckets: set[int] | None = None,
              only: set[str] | None = None) -> tuple[int, int, list]:
    """Compare <dst>/data with the oracle, for the docs ``only`` when the
    job ran on those alone.  Returns (images attempted, images failed,
    doc_ids) where the images are the distinct refs of the docs in
    ``buckets`` (all docs when None) and a failed image is one
    referenced by a mismatching or missing doc."""
    got = read_output(dst, ["doc_id", "spans"])
    if only is not None:
        expected = expected.filter(pc.is_in(
            expected["doc_id"], pa.array(sorted(only)))).combine_chunks()
    if buckets is not None:
        in_scope = pc.is_in(got["bucket"],
                                    pa.array(sorted(buckets), pa.int32()))
        scope_ids = set(got.filter(in_scope)["doc_id"].to_pylist())
    else:
        scope_ids = set(expected["doc_id"].to_pylist())
    attempted = set().union(*(doc_refs.get(d, set()) for d in scope_ids))
    got_sorted = (got.select(["doc_id", "spans"]).cast(DOC_SCHEMA)
                  .sort_by("doc_id").combine_chunks())
    if got_sorted.equals(expected):
        return len(attempted), 0, []
    want = dict(zip(expected["doc_id"].to_pylist(),
                    expected["spans"].to_pylist()))
    have = dict(zip(got_sorted["doc_id"].to_pylist(),
                    got_sorted["spans"].to_pylist()))
    bad = sorted(d for d in want.keys() | have.keys()
                 if want.get(d) != have.get(d))
    failed = set().union(*(doc_refs.get(d, set()) for d in bad))
    return max(len(attempted), len(failed)), len(failed), bad


def corpus_expected(corpus_path: str) -> dict[int, tuple[str, float]]:
    """``corpus_oracle`` run in a child process, so the oracle's memory
    never counts toward the benchmark's peak RSS."""
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(1) as pool:
        return pool.apply(corpus_oracle, (corpus_path,))


# the keeper policy's own components CTE, read from the components the
# check computes once instead
_KP_COMPONENTS = re.compile(
    r"comp AS \(\s*SELECT doc AS doc_id, min\(lab\) AS component\s+"
    r"FROM reach GROUP BY doc\s*\)")


def oracle_components(con) -> tuple[dict[int, int], int] | None:
    """doc_id -> component (the smallest doc_id it reaches) over the
    near-dup pairs of the ``dedup_components`` oracle's own LSH step,
    run on ``con``'s ``documents``, and the rounds min-label propagation
    takes to settle.  The oracle closes the pairs with a recursive CTE
    whose cost grows with the pairs it revisits; propagating labels here
    gives the same components in a fraction of the time.  None when the
    query no longer has the pair step this reads."""
    import collections

    import __spark_entry__ as E

    sql = E.oracle_sql()["dedup_components"]
    cut = sql.find("), sym AS")
    if cut < 0:
        return None
    adj = collections.defaultdict(list)
    for a, b in con.execute(
            sql[:cut] + ") SELECT doc_a, doc_b FROM cand").fetchall():
        adj[a].append(b)
        adj[b].append(a)
    label = {d: d for (d,) in con.execute(
        "SELECT doc_id FROM documents").fetchall()}
    rounds = 0
    while True:
        rounds += 1
        new = dict(label)
        for a, nbrs in adj.items():
            for b in nbrs:
                new[b] = min(new[b], label[a])
        if new == label:
            return label, rounds
        label = new


def corpus_oracle(corpus_path: str) -> dict[int, tuple[str, float]]:
    """doc_id -> (lang_pred, quality) the cleaning job must keep:
    ``corpus_filter`` rows whose doc is the keeper of its near-dup
    component (``dedup_keeper_policy``; a singleton component keeps its
    only member).  The md5 exact-dup gate inside ``corpus_filter``
    agrees with the job's keeper rule: identical texts share a component
    and a quality score, and the tie goes to the smallest doc_id in
    both.  Components come from ``oracle_components``, and the keeper
    policy reads them in place of its own recursive CTE; the full
    ``dedup_components`` query runs only when that cannot."""
    import duckdb

    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{corpus_path}')")
        found = oracle_components(con)
        if found is None:
            con.execute("CREATE TEMP TABLE components AS SELECT doc_id, "
                        f"component FROM ({sql['dedup_components']})")
        else:
            con.register("components", pa.table(
                {"doc_id": list(found[0]), "component": list(
                    found[0].values())}))
        kp = _KP_COMPONENTS.sub(
            "comp AS (SELECT doc_id, component FROM components)",
            sql["dedup_keeper_policy"])
        con.execute(f"CREATE TEMP TABLE kp AS {kp}")
        con.execute(f"CREATE TEMP TABLE cf AS {sql['corpus_filter']}")
        rows = con.execute("""
            WITH sizes AS (SELECT component, count(*) AS n
                           FROM components GROUP BY component),
                 keepers AS (
                   SELECT c.doc_id FROM components c JOIN sizes s
                     ON c.component = s.component WHERE s.n = 1
                   UNION SELECT keeper FROM kp)
            SELECT cf.doc_id, cf.lang_pred, cf.quality FROM cf
            WHERE cf.doc_id IN (SELECT doc_id FROM keepers)""").fetchall()
    finally:
        con.close()
    return {int(d): (lang, float(q)) for d, lang, q in rows}


def check_corpus(dst: str, expected: dict[int, tuple[str, float]]
                 ) -> list[int]:
    """doc_ids whose presence, language or quality (to 1e-9) differs."""
    got = read_output(dst, ["doc_id", "lang_pred", "quality"])
    have = {int(d): (lang, float(q)) for d, lang, q in zip(
        got["doc_id"].to_pylist(), got["lang_pred"].to_pylist(),
        got["quality"].to_pylist())}
    return sorted(d for d in expected.keys() | have.keys()
                  if d not in expected or d not in have
                  or expected[d][0] != have[d][0]
                  or abs(expected[d][1] - have[d][1]) > 1e-9)
