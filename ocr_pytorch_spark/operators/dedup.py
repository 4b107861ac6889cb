"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale notes (100 TB story):
* exact: one shuffle on the text hash — never on text bodies.
* MinHash+LSH: shingle explode is map-side; signatures are one groupBy
  on doc_id; candidate generation is an equi-join on band keys (small
  rows), NOT an all-pairs comparison — the classic O(n) near-dup path.
  ``bucket_cap`` hard-bounds any band bucket so one viral duplicated
  document can't create a quadratic bucket (dropped buckets observable
  via ``minhash_bucket_sizes``).
* SimHash: pure map-side arithmetic + one groupBy; the 16-bit key then
  buckets near-dups for cheap verification.
* n-gram Jaccard: candidates come from the MinHash-LSH band join (the
  real near-dup candidate path — no text-prefix recall hole, no
  hot-prefix quadratic bucket); verification is array_intersect /
  size on per-doc distinct word arrays, so each candidate pair moves
  one row, never (doc, word) rows per side.
* embedding-cosine: candidates from banded sign-random-projection LSH
  with Hamming<=1 multi-probe (shared with operators/similarity.py);
  exact cosine verify is array-native (one row per pair, array_dot) —
  the all-pairs product never materializes and nothing explodes to
  per-component rows.

All hashes are md5-hex based so every operator has a bit-exact DuckDB
oracle (see functions/__init__.py).  Intermediate frames are returned
unpersisted — Spark's exchange reuse dedups the shared shuffles within
one action, and callers that iterate own the cache lifecycle (at real
scale you materialize the signature table instead).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window, functions as F

from ocr_pytorch_spark.functions import HEX, array_dot, quant4
from ocr_pytorch_spark.operators.text import word_ngrams


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Per-doc content hash + duplicate-group size (group over the full
    md5 of the text; keeper = min(doc_id) under the column's natural
    ordering — numeric for the int64 testdata doc_id; cast to string
    first if lexicographic semantics are wanted on mixed corpora).
    Output: doc_id, text_hash, dup_count, is_keeper."""
    h = documents.select("doc_id", F.md5("text").alias("text_hash"))
    w = Window.partitionBy("text_hash")
    return h.select(
        "doc_id", "text_hash",
        F.count("*").over(w).alias("dup_count"),
        (F.min("doc_id").over(w) == F.col("doc_id")).alias("is_keeper"),
    )


def minhash_signatures(documents: DataFrame, k: int = 8,
                       shingle_n: int = 3) -> DataFrame:
    """k-component MinHash over word shingles: component i is the MIN
    over grams of an 8-hex-char slice of md5('<i//4>:' || gram) — the
    classic one-hash-k-pieces minwise family (each 32-bit slice is an
    independent uniform hash, so string-min per slice is a valid
    minwise sample) at 2 md5 calls per gram instead of k.
    Engine-portable; output: doc_id, mh0..mh{k-1}."""
    grams = word_ngrams(documents, shingle_n)
    halves = [F.md5(F.concat(F.lit(f"{h}:"), F.col("gram")))
              for h in range((k + 3) // 4)]
    aggs = [F.min(F.substring(halves[i // 4], (i % 4) * 8 + 1, 8))
            .alias(f"mh{i}") for i in range(k)]
    return grams.groupBy("doc_id").agg(*aggs)


def _minhash_band_rows(documents: DataFrame, k: int,
                       bands: int) -> DataFrame:
    """(doc_id, band_idx, key) band rows."""
    rows = k // bands
    sigs = minhash_signatures(documents, k)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.col(f"band{b}").alias("key"))
            for b in range(bands)])).alias("bk"),
    ).select("doc_id", "bk.band_idx", "bk.key")


def minhash_bucket_sizes(documents: DataFrame, k: int = 8,
                         bands: int = 4) -> DataFrame:
    """(band_idx, key, n) — observability for bucket_cap drops."""
    return (_minhash_band_rows(documents, k, bands)
            .groupBy("band_idx", "key").agg(F.count("*").alias("n")))


def _upper_triangle_pairs(ids_col: str = "ids"):
    """All (a, b) pairs with a before b from a sorted id array — the
    in-bucket pair expansion.  Quadratic per bucket by construction,
    which is why buckets must be cap-bounded at scale."""
    ids = F.col(ids_col)
    return F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids) - i - 1),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))


def minhash_lsh_pairs(documents: DataFrame, k: int = 8, bands: int = 4,
                      bucket_cap: int | None = None) -> DataFrame:
    """LSH banding: k/bands signature rows per band; docs sharing any
    band key are candidate near-dup pairs.  Pairs are generated by ONE
    groupBy on (band_idx, key) + in-bucket pair expansion — the
    signature lineage runs once (a band self-join would compute the
    shingle explode + min-aggs twice), and with ``bucket_cap`` set the
    per-bucket expansion is hard-bounded, so one viral duplicated
    document cannot create a quadratic bucket (dropped buckets are
    observable via ``minhash_bucket_sizes``).
    Output: doc_a, doc_b (doc_a < doc_b), n_bands (how many bands
    matched)."""
    stacked = _minhash_band_rows(documents, k, bands)
    buckets = (stacked.groupBy("band_idx", "key")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
               .where(F.size("ids") > 1))
    if bucket_cap is not None:
        buckets = buckets.where(F.size("ids") <= bucket_cap)
    return (buckets
            .select(F.explode(_upper_triangle_pairs()).alias("p"))
            .select(F.col("p.a").alias("doc_a"),
                    F.col("p.b").alias("doc_b"))
            .groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_bands")))


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """16-bit SimHash over word tokens: token hash = first 4 hex chars of
    md5(word) decoded portably; per-bit weighted majority.
    Output: doc_id, simhash (long)."""
    from ocr_pytorch_spark.functions import word_rows

    w = word_rows(documents).select(
        "doc_id",
        reduce(
            lambda acc, i: acc + (
                (F.expr(f"instr('{HEX}', substring(md5(word), {i + 1}, 1))")
                 - 1) * (16 ** (3 - i))),
            range(4), F.lit(0)).alias("code"),
    )
    bit_sums = w.groupBy("doc_id").agg(*[
        F.sum(((F.floor(F.col("code") / (2 ** j)) % 2) * 2 - 1))
        .alias(f"s{j}") for j in range(bits)])
    sim = reduce(
        lambda acc, j: acc + F.when(F.col(f"s{j}") > 0,
                                    F.lit(2 ** j)).otherwise(F.lit(0)),
        range(bits), F.lit(0))
    return bit_sums.select("doc_id", sim.cast("long").alias("simhash"))


def embedding_neardup_candidates(embeddings: DataFrame,
                                 n_planes: int | None = None,
                                 bands: int | None = None,
                                 dim: int | None = None,
                                 bucket_cap: int | None = None,
                                 n_cells: int | None = None,
                                 n_cell_probe: int = 3) -> DataFrame:
    """The candidate stage of :func:`embedding_neardup_pairs` —
    distinct (vec_a, vec_b) pairs sharing a banded sign-projection
    key within Hamming<=1 multi-probe, optionally restricted to pairs
    sharing one of their ``n_cell_probe`` nearest IVF cells
    (``n_cells``).  Split out so scale measurement
    (scripts/emb_cosine_scale.py) times exactly the shipped stage."""
    return _neardup_candidate_stream(
        embeddings, n_planes, bands, dim, bucket_cap, n_cells,
        n_cell_probe).distinct()


def _neardup_candidate_stream(embeddings: DataFrame,
                              n_planes: int | None = None,
                              bands: int | None = None,
                              dim: int | None = None,
                              bucket_cap: int | None = None,
                              n_cells: int | None = None,
                              n_cell_probe: int = 3) -> DataFrame:
    """Pre-distinct candidate pair stream (multi-band/multi-cell hits
    still duplicated) — embedding_neardup_pairs dedups it INSIDE its
    verify-stage repartition (one exchange does both, r9)."""
    from ocr_pytorch_spark.operators import similarity as S

    n_planes = n_planes or S.N_PLANES
    bands = bands or S.BANDS
    dim = dim or S.DIM
    if n_cells is not None:
        # r9: band keys AND the IVF cell assignment come out of ONE
        # map-side pass over the vectors (projections + per-row
        # centroid argmin against a one-row broadcast) — the old plan
        # computed ivf_cells with a corpus exchange + rank window and
        # then SHUFFLE-JOINED it back onto the band rows by vec_id.
        # The bucket cap (when set) still counts per (band_idx,
        # bucket) over band rows exactly as before: cells ride along
        # as an array column and only explode after the cap filter.
        vt = S.vectors_with_norm(embeddings)
        wc = S._with_cells(vt, vt, n_cells, n_cell_probe)
        banded = (wc.select(
            "vec_id", "cells",
            S.projs_col(F.col("vec"), n_planes, dim).alias("projs"))
            .select("vec_id", "cells",
                    F.explode(S.band_structs_col(n_planes, bands))
                    .alias("bk"))
            .select("vec_id", "cells", "bk.band_idx", "bk.bucket"))
        keys = (S.cap_buckets(banded, bucket_cap)
                .select("vec_id", "band_idx", "bucket",
                        F.explode("cells").alias("cell")))
        join_key = ["cell", "band_idx", "bucket"]
    else:
        keys = S.cap_buckets(
            S.lsh_band_keys(embeddings, n_planes, bands, dim),
            bucket_cap)
        join_key = ["band_idx", "bucket"]
    # materialize the shared projection lineage through one exchange on
    # the join key: both consumers (probe explode + join right side)
    # reuse it (ReusedExchange), so the n_planes dot products run once —
    # and it is the partitioning the band join needs anyway
    keys = keys.repartition(*join_key)
    r = n_planes // bands
    probes = F.array(F.col("bucket"),
                     *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
                       for j in range(r)])
    p = keys.select(F.col("vec_id").alias("pv"),
                    *[c for c in join_key if c != "bucket"],
                    F.explode(probes).alias("bucket"))
    # pv < vec_id (r9): single-bit-XOR probing is SYMMETRIC — b is in
    # a's probe set iff a is in b's — so every unordered pair used to
    # surface from BOTH directions and the old pv != vec_id filter
    # shipped 2x the rows into the distinct (measured 6.4M -> 3.2M
    # pre-distinct rows at the bench tier, identical distinct set).
    # SHUFFLE_HASH (r9): the stored-key side is 1/(r+1) the probe
    # side's rows — hash-building it beats sorting ~10x the probe
    # rows for a sort-merge join (A/B 4.57 -> 3.84 s warm).  Build
    # size per partition is bounded by the same dial that bounds
    # bucket crowding (IVF cell population / bucket_cap), so the
    # hash relation cannot inherit a viral bucket's skew.
    return (p.join(keys.hint("shuffle_hash"), join_key)
            .where(F.col("pv") < F.col("vec_id"))
            .select(F.col("pv").alias("vec_a"),
                    F.col("vec_id").alias("vec_b")))


def embedding_neardup_pairs(embeddings: DataFrame,
                            threshold: float = 0.35,
                            n_planes: int | None = None,
                            bands: int | None = None,
                            dim: int | None = None,
                            bucket_cap: int | None = None,
                            n_cells: int | None = None,
                            n_cell_probe: int = 3) -> DataFrame:
    """Embedding-cosine near-dup detection: candidates = vector pairs
    sharing any banded sign-random-projection key within Hamming<=1
    (multi-probe), verified by exact array-native cosine — one row per
    candidate pair end to end; the all-pairs product never
    materializes and nothing explodes to per-component rows.

    ``n_cells`` is the SCALE path (r7 verdict): sign-projection bands
    alone have a fixed 2^r keyspace per band, so on clustered corpora
    bucket population — and with it candidate volume — grows
    quadratically in corpus size (measured exponent 2.0 in
    BENCH/EMB_COSINE.json before this change).  With ``n_cells`` set,
    every vector is first assigned to its ``n_cell_probe`` nearest IVF
    cells (SemDeDup's precluster stage, ``similarity.ivf_cells``) and
    band buckets only pair WITHIN a cell, so sizing n_cells ~ n/128
    keeps cell population — and per-bucket crowding — constant as the
    corpus grows: candidates become linear-in-corpus plus the true
    near-dup pairs themselves.  Multi-assignment (n_cell_probe=3)
    keeps boundary pairs recalled: a pair is lost only if the two
    vectors share NO cell among their three nearest (measured on the
    clustered 20k fixture: recall 0.92 at 2 probes, 0.98 at 3, at
    candidates still 12x below pure banding).  ``bucket_cap`` remains the last-resort viral-bucket
    fuse, NOT the scaling plan — it trades recall for cost wherever
    it fires (measured: recall 0.43 at cap64 on the clustered
    fixture), where the cell precluster trades nothing material.
    Output: vec_a, vec_b (vec_a < vec_b), cos >= threshold."""
    from ocr_pytorch_spark.operators import similarity as S

    cand = _neardup_candidate_stream(
        embeddings, n_planes, bands, dim, bucket_cap, n_cells,
        n_cell_probe)
    # ONE exchange dedups, fans out, AND pre-positions the first
    # verify join (r9): hash-repartitioning the raw hit stream by
    # vec_a alone satisfies the clustered distribution the dedup
    # aggregation needs (vec_a is a subset of its grouping keys — all
    # equal (vec_a, vec_b) rows co-locate) AND the vec_a equi-join's
    # requirement, so the old plan's THREE pair-set shuffles
    # (distinct by (a,b), repartition, re-shuffle by vec_a for the
    # join) collapse to one.  The explicit REPARTITION_BY_NUM also
    # keeps AQE from coalescing the verify stage to one task
    # (candidate rows are tiny but each carries a dim-length dot
    # product).
    n_par = embeddings.sparkSession.sparkContext.defaultParallelism
    cand = (cand.repartition(n_par, "vec_a")
            .dropDuplicates())
    vt = S.vectors_with_norm(embeddings)
    va = vt.select(F.col("vec_id").alias("vec_a"),
                   F.col("vec").alias("va"), F.col("nrm").alias("na"))
    vb = vt.select(F.col("vec_id").alias("vec_b"),
                   F.col("vec").alias("vb"), F.col("nrm").alias("nb"))
    # SHUFFLE_HASH (guide §3.1): the vector side is small per
    # partition; a sort-merge join would SORT the multi-million-row
    # pair relation twice just to attach arrays
    return (cand.join(va.hint("shuffle_hash"), "vec_a")
            .join(vb.hint("shuffle_hash"), "vec_b")
            .select("vec_a", "vec_b",
                    quant4(array_dot(F.col("va"), F.col("vb"))
                           / (F.col("na") * F.col("nb"))).alias("cos"))
            .where(F.col("cos") >= threshold))


def dup_components(documents: DataFrame, edges: DataFrame | None = None,
                   max_iter: int = 25,
                   bucket_cap: int | None = None,
                   algorithm: str = "bsp",
                   stats: dict | None = None) -> DataFrame:
    """Transitive duplicate groups: connected components over the
    near-dup pair graph, so keeper selection works across chains
    (a~b, b~c => one group even when a!~c).  Component id = min doc_id
    reachable.  Output: doc_id, component, is_keeper.

    Two algorithms, same output:

    * ``bsp`` (default): semi-naive min-label propagation over the
      edge endpoints only.  The symmetrized edge list is materialized
      once (``localCheckpoint``), so the LSH pass that produces it runs
      once, not once per round.  Each round sends messages only from
      the frontier — the nodes whose label changed in the previous
      round — and writes the new (doc_id, component, changed) rows in
      that round's single checkpoint, whose job also counts the changed
      rows (an ``Observation``); it stops when no row changed.
      The labels match full relabelling round for round (an unchanged
      neighbour's label is already folded in), so the rounds needed
      are still graph DIAMETER + 1: right for near-dup graphs (shallow
      clusters), wrong for long chains.  Docs in no edge label
      themselves in one final left join.
    * ``star``: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond") — rounds needed
      = O(log diameter), the 10^12-node path; see
      ``_star_components``.

    The driver-side loop itself is how Spark iterative algorithms work
    (GraphX/GraphFrames do the same).  ``stats`` (optional dict) gets
    ``{"rounds": n}`` for round-count assertions.

    The DuckDB oracle is a recursive CTE over the same edges — fully
    SQL-expressible, hash-checked."""
    if edges is None:
        edges = (minhash_lsh_pairs(documents, bucket_cap=bucket_cap)
                 .select("doc_a", "doc_b"))
    if algorithm == "star":
        return _star_components(documents, edges, max_iter, stats)
    if algorithm != "bsp":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # one pass over ``edges`` emits both directions
    sym = (edges.select(F.explode(F.array(
        F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))))
        .alias("e")).select("e.src", "e.dst").localCheckpoint())

    def relabel(cur: DataFrame) -> tuple[DataFrame, int]:
        """Checkpoint (doc_id, component, changed) from ``cur``'s
        (doc_id, component, msg) rows, counting the changed rows in the
        same job."""
        n_changed = Observation()
        new = (cur.select("doc_id",
                          F.least("component", "msg").alias("component"),
                          F.coalesce(F.col("msg") < F.col("component"),
                                     F.lit(False)).alias("changed"))
               .observe(n_changed, F.count_if("changed").alias("n"))
               .localCheckpoint())
        return new, n_changed.get["n"]

    # round 1: every endpoint starts labelled with itself, so its
    # messages are its neighbours' ids
    labels, changed = relabel(
        sym.groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("dst").alias("msg"))
        .withColumn("component", F.col("doc_id")))
    rounds = 1
    while changed and rounds < max_iter:
        rounds += 1
        frontier = labels.where("changed").select(
            F.col("doc_id").alias("src"), "component")
        msgs = (sym.join(frontier, "src")
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("component").alias("msg")))
        labels, changed = relabel(labels.join(msgs, "doc_id", "left"))
    if stats is not None:
        stats["rounds"] = rounds
    comp = F.coalesce("component", "doc_id")
    return (documents.select("doc_id")
            .join(labels.select("doc_id", "component"), "doc_id", "left")
            .select("doc_id", comp.alias("component"),
                    (F.col("doc_id") == comp).alias("is_keeper")))


def _star_components(documents: DataFrame, edges: DataFrame,
                     max_iter: int, stats: dict | None) -> DataFrame:
    """large-star/small-star connected components (Kiveris et al. 2014,
    the production algorithm for 10^12-edge graphs):

    * large-star: every node u links each STRICTLY LARGER neighbor to
      the minimum of its neighborhood (incl. itself) — long chains
      collapse geometrically;
    * small-star: orient edges child>=parent, link each parent-side
      neighbor (and u itself) to the neighborhood minimum — keeps the
      forest flat.

    Both steps are one groupBy + one join over skinny 2-column rows —
    the same per-round shuffle shape as BSP but O(log d) rounds instead
    of O(d).  Converges when the edge set fixes (every component is a
    star centered at its minimum).  Output and column contract are
    identical to the BSP path, so the same DuckDB recursive-CTE oracle
    hash-checks it."""
    def _same(a: DataFrame, b: DataFrame) -> bool:
        return a.exceptAll(b).union(b.exceptAll(a)).isEmpty()

    e = (edges.select(F.col("doc_a").alias("u"),
                      F.col("doc_b").alias("v"))
         .where(F.col("u") != F.col("v")).distinct().localCheckpoint())
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", F.col("u")).alias("m")))
        e1 = (sym.join(mins, "u")
              .where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v")).distinct()
              .localCheckpoint())
        # small-star (edges oriented child = max, parent = min)
        ori = e1.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))
        new = (ori.join(mins, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .union(mins.select("u", F.col("m").alias("v")))
               .where(F.col("u") != F.col("v")).distinct()
               .localCheckpoint())
        # converged only when BOTH operations left the set invariant
        # (small-star output can equal large-star output mid-run on a
        # chain without being a union of stars — comparing only the
        # two halves of one round terminates early and wrongly)
        done = _same(e1, e) and _same(new, e1)
        e = new
        if done:
            break
    if stats is not None:
        stats["rounds"] = rounds
    # at convergence e = (child, component_min) stars; isolated docs
    # label themselves
    parents = (e.groupBy(F.col("u").alias("doc_id"))
               .agg(F.min("v").alias("parent")))
    labels = (documents.select("doc_id")
              .join(parents, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("parent", "doc_id").alias("component")))
    return labels.select(
        "doc_id", "component",
        (F.col("doc_id") == F.col("component")).alias("is_keeper"))


def word_sets(documents: DataFrame) -> DataFrame:
    """(doc_id, ws: array<string> distinct words, n: long) — the
    verify-side dimension table for set-similarity checks.  Built
    MAP-SIDE with array_distinct over the token array (r9): the old
    explode + distinct + collect_list moved the whole word stream
    through two exchanges to reassemble per-doc arrays this select
    produces directly; consumers only use the rows as sets
    (array_intersect / size), so element order is immaterial."""
    from ocr_pytorch_spark.functions import fan_out, words

    return (fan_out(documents).select(
        "doc_id",
        F.array_distinct(words(F.col("text"))).alias("ws"))
        .withColumn("n", F.size("ws").cast("long")))


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.5,
                        k: int = 8, bands: int = 4,
                        bucket_cap: int | None = None) -> DataFrame:
    """Near-dup verification: candidate pairs from the MinHash-LSH band
    join (real near-dup candidates — no prefix-bucket recall hole),
    then exact word-set Jaccard via array_intersect on per-doc distinct
    word arrays (one row per pair; the old per-(doc, word)-row double
    join never happens).
    Output: doc_a, doc_b, jaccard (quantized 4dp), only pairs >=
    threshold."""
    cand = (minhash_lsh_pairs(documents, k, bands, bucket_cap)
            .select("doc_a", "doc_b"))
    # same AQE-coalesce guard as embedding_neardup_pairs: the set
    # intersection per pair is compute-heavy relative to its bytes.
    # (The embedding-pairs r9 tricks — repartition by the first join
    # key only + SHUFFLE_HASH verify joins — were A/B'd here and
    # REJECTED, 1.75 vs 1.37 s warm: this candidate set is far
    # smaller than the word-array side, so hash-building the array
    # relation costs more than sort-merge over the small pair set.)
    n_par = documents.sparkSession.sparkContext.defaultParallelism
    cand = cand.repartition(n_par, "doc_a", "doc_b")
    ws = word_sets(documents)
    wa = ws.select(F.col("doc_id").alias("doc_a"),
                   F.col("ws").alias("wsa"), F.col("n").alias("na"))
    wb = ws.select(F.col("doc_id").alias("doc_b"),
                   F.col("ws").alias("wsb"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("wsa", "wsb")).cast("long")
    return (cand.join(wa, "doc_a").join(wb, "doc_b")
            .withColumn("i", inter)
            .select("doc_a", "doc_b",
                    quant4(F.col("i")
                           / (F.col("na") + F.col("nb") - F.col("i")))
                    .alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def line_dedup(documents: DataFrame,
               words_per_line: int = 3) -> DataFrame:
    """C4-style corpus-global line-level exact dedup: split each
    document into fixed-width word lines, keep only the FIRST
    occurrence of every distinct line across the whole corpus
    (first = lexicographically least (doc_id, line_no)), and
    reassemble each document from its surviving lines.
    Output: doc_id, kept_text (newline-joined), n_kept.

    Scale shape: line construction is map-side (transform over a
    sequence — no explode shuffle until the lines exist as rows);
    the winner pick is ONE groupBy on the line itself with map-side
    partial aggregation (``min(struct(doc_id, line_no))`` — duplicate
    lines collapse in the map stage, so a line duplicated 10^6 times
    ships once per task, not 10^6 rows to one reducer, which is what
    the row_number()-window formulation would do); reassembly is a
    second skew-free groupBy on doc_id.  At 10^12 docs you group on a
    128-bit hash of the line instead of the line text to shrink the
    shuffle key — semantics identical modulo hash collisions.
    """
    n = words_per_line
    lines = (documents
             .withColumn("w", F.split("text", " "))
             .withColumn(
                 "n_lines",
                 F.ceil(F.size("w") / float(n)).cast("int"))
             .select(
                 "doc_id",
                 F.posexplode(F.expr(
                     f"transform(sequence(0, n_lines - 1), "
                     f"i -> concat_ws(' ', slice(w, i*{n}+1, {n})))"
                 )).alias("line_no", "line"))
             .withColumn("line_no", F.col("line_no").cast("long")))
    winners = (lines
               .groupBy("line")
               .agg(F.min(F.struct("doc_id", "line_no")).alias("win"))
               .select(F.col("win.doc_id").alias("doc_id"),
                       F.col("win.line_no").alias("line_no"), "line"))
    kept = (winners
            .groupBy("doc_id")
            .agg(F.array_join(
                     F.transform(
                         F.array_sort(
                             F.collect_list(
                                 F.struct("line_no", "line"))),
                         lambda s: s["line"]), "\n").alias("kept_text"),
                 F.count("*").alias("n_kept")))
    return (documents.select("doc_id")
            .join(kept, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("kept_text", F.lit("")).alias("kept_text"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept")))


def repeated_substring_spans(documents: DataFrame,
                             k: int = 30) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (the
    "deduplicating training data" method): every character k-gram
    occurring more than once in the corpus marks its occurrences —
    except the first (lexicographically least (doc_id, pos)) — as
    duplicated text; overlapping marks merge into maximal spans per
    document.  Runs of shared text longer than k chars merge
    automatically (their k-grams overlap).
    Output: doc_id, n_dup_spans, chars_removed, frac_removed.

    Scale shape: gram explode is map-side (~n_chars rows per doc —
    the honest cost of exact-substring dedup; the published approach
    pays the same via suffix arrays); the winner pick is a groupBy
    on the gram with map-side partial aggregation (viral grams
    collapse before the shuffle — same argument as ``line_dedup``),
    kept as an equi-join against only the >1-count grams; span
    merging is one sort-based window per doc partition."""
    docs_len = documents.select(
        "doc_id", F.length("text").cast("long").alias("n_chars_calc"))
    grams = (documents
             .where(F.length("text") >= k)
             .select("doc_id", "text", F.explode(F.expr(
                 f"sequence(1, length(text) - {k} + 1)")).alias("pos"))
             .select("doc_id", F.col("pos").cast("long").alias("pos"),
                     F.expr(f"substring(text, pos, {k})").alias("gram")))
    winners = (grams.groupBy("gram")
               .agg(F.min(F.struct("doc_id", "pos")).alias("win"),
                    F.count("*").alias("c"))
               .where(F.col("c") > 1))
    dups = (grams.join(winners, "gram")
            .where(~((F.col("doc_id") == F.col("win.doc_id"))
                     & (F.col("pos") == F.col("win.pos"))))
            .select("doc_id", "pos",
                    (F.col("pos") + (k - 1)).alias("end_")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("end_").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    marked = dups.withColumn(
        "new_span",
        F.when(prev_max.isNull() | (F.col("pos") > prev_max), 1)
        .otherwise(0))
    spans = (marked
             .withColumn("span_id", F.sum("new_span").over(
                 w.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy("doc_id", "span_id")
             .agg(F.min("pos").alias("s"), F.max("end_").alias("e")))
    per_doc = (spans.groupBy("doc_id")
               .agg(F.count("*").alias("n_dup_spans"),
                    F.sum(F.col("e") - F.col("s") + 1)
                    .alias("chars_removed")))
    return (docs_len.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                    .alias("n_dup_spans"),
                    F.coalesce("chars_removed", F.lit(0)).cast("long")
                    .alias("chars_removed"),
                    quant4(F.coalesce("chars_removed", F.lit(0))
                           / F.col("n_chars_calc"))
                    .alias("frac_removed")))


def repeated_substring_spans_oracle_sql(k: int = 30) -> str:
    return f"""
        WITH g AS (
          SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
                 substr(text, CAST(t.i AS INT), {k}) AS gram
          FROM documents, LATERAL (SELECT unnest(range(1,
               CAST(length(text) - {k} + 2 AS BIGINT))) AS i) t
          WHERE length(text) >= {k}
        ), h AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY gram
                     ORDER BY doc_id, pos) AS rn,
                 count(*) OVER (PARTITION BY gram) AS c
          FROM g
        ), d AS (
          SELECT doc_id, pos, pos + {k - 1} AS end_
          FROM h WHERE c > 1 AND rn > 1
        ), m AS (
          SELECT doc_id, pos, end_,
                 CASE WHEN max(end_) OVER (PARTITION BY doc_id
                          ORDER BY pos ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING) IS NULL
                        OR pos > max(end_) OVER (PARTITION BY doc_id
                          ORDER BY pos ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS new_span
          FROM d
        ), sp AS (
          SELECT doc_id,
                 sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                     ROW) AS span_id,
                 pos, end_
          FROM m
        ), agg AS (
          SELECT doc_id, span_id, min(pos) AS s, max(end_) AS e
          FROM sp GROUP BY doc_id, span_id
        ), per_doc AS (
          SELECT doc_id, count(*) AS n_dup_spans,
                 CAST(sum(e - s + 1) AS BIGINT) AS chars_removed
          FROM agg GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(p.n_dup_spans, 0) AS n_dup_spans,
               coalesce(p.chars_removed, 0) AS chars_removed,
               floor((coalesce(p.chars_removed, 0)
                      / CAST(length(d.text) AS DOUBLE))
                     * 10000 + 0.5) / 10000 AS frac_removed
        FROM documents d LEFT JOIN per_doc p USING (doc_id)"""


# --- corpus-pair overlap estimation (r7) -----------------------------------

def corpus_overlap_minhash(documents: DataFrame, n_seeds: int = 16,
                           shingle_n: int = 3,
                           key: str = "source") -> DataFrame:
    """Corpus-pair overlap estimate: per-corpus MinHash signatures
    over the word-shingle SET of everything a corpus (``key`` slice)
    contains, compared pairwise — the standard pre-merge diagnostic
    before ingesting a new crawl/dump next to an existing corpus
    (estimated Jaccard of shingle sets ~= fraction of seeds whose
    corpus-level minimum hash agrees).

    Scale shape (100 TB story): the shingle stream is built map-side
    (``word_ngrams``'s zero-shuffle transform) and collapses through
    ONE exchange keyed by corpus with map-side partial MIN per seed —
    the ``n_seeds`` mins are SEPARATE AGG COLUMNS of one groupBy, not
    an n_seeds-way stream explosion — so |corpora| rows come out of
    the shuffle however big the corpora are.  The pair matrix is a
    broadcast self-join of that signature table (|corpora|^2 tiny
    rows).  MinHash over a multiset equals MinHash over the set, so
    no distinct is needed anywhere.

    Engine parity: signatures are md5 hex strings compared by string
    MIN (lexicographic == numeric for fixed-width hex — the
    ``fingerprint`` convention); the estimate is exact-integer
    micro-units.  Output: source_a, source_b, n_equal,
    jaccard_est_micro (bigint, est * 1e6)."""
    from ocr_pytorch_spark.functions import fan_out, words

    ws = words(F.col("text"))
    grams = F.transform(
        ws, lambda x, i: F.concat_ws(" ", F.slice(ws, i + 1, shingle_n)))
    grams = F.slice(grams, 1,
                    F.greatest(F.size(ws) - shingle_n + 1, F.lit(0)))
    gstream = fan_out(documents).select(
        key, F.explode(grams).alias("gram"))
    sigs = gstream.groupBy(key).agg(*[
        F.min(F.md5(F.concat_ws(":", F.lit(str(i)), F.col("gram"))))
        .alias(f"mh{i}") for i in range(n_seeds)])
    a = sigs.select(F.col(key).alias("source_a"),
                    *[F.col(f"mh{i}").alias(f"a{i}")
                      for i in range(n_seeds)])
    b = sigs.select(F.col(key).alias("source_b"),
                    *[F.col(f"mh{i}").alias(f"b{i}")
                      for i in range(n_seeds)])
    n_equal = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        for i in range(n_seeds))
    return (a.join(F.broadcast(b),
                   F.col("source_a") < F.col("source_b"))
            .select("source_a", "source_b",
                    n_equal.alias("n_equal"))
            .withColumn(
                "jaccard_est_micro",
                F.floor(F.col("n_equal") * F.lit(1000000.0)
                        / F.lit(n_seeds)).cast("long")))


def corpus_overlap_minhash_oracle_sql(n_seeds: int = 16,
                                      key: str = "source") -> str:
    """DuckDB oracle for corpus_overlap_minhash — same seeded md5
    string-min signatures and exact-integer estimate."""
    mins = ", ".join(
        f"min(md5('{i}:' || gram)) AS mh{i}" for i in range(n_seeds))
    eq = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(n_seeds))
    return f"""
        WITH w AS (
          SELECT doc_id, {key},
                 unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents
        ), g3 AS (
          SELECT a.{key} AS src,
                 a.word || ' ' || b.word || ' ' || c.word AS gram
          FROM w a
          JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          JOIN w c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        ), sigs AS (
          SELECT src, {mins} FROM g3 GROUP BY src
        ), pairs AS (
          SELECT a.src AS source_a, b.src AS source_b,
                 CAST({eq} AS BIGINT) AS n_equal
          FROM sigs a JOIN sigs b ON a.src < b.src
        )
        SELECT source_a, source_b, n_equal,
               CAST(floor(n_equal * 1000000.0 / {n_seeds}) AS BIGINT)
                 AS jaccard_est_micro
        FROM pairs"""


# --- incremental near-dup vs a historical corpus (r7) -----------------------

def incremental_neardup(documents: DataFrame, k: int = 8,
                        bands: int = 4,
                        history_frac_hex: int | None = None,
                        bucket_cap: int | None = None,
                        bucket_sizes: DataFrame | None = None
                        ) -> DataFrame:
    """Incremental near-dup: flag NEW-batch documents that share any
    MinHash band with the HISTORICAL corpus — the shape a production
    pipeline actually runs every day (today's crawl vs everything
    already ingested), as opposed to the corpus-global
    ``minhash_lsh_pairs`` pass.  History = the deterministic
    md5-prefix 50% doc sample (standing in for the corpus whose
    banded index is already persisted); batch = the rest.

    Scale shape: candidates are generated ONLY across batch x history
    band buckets — never history x history (the index side was
    deduped when it was ingested) and never batch x batch (that is
    the separate intra-batch pass).  At 10^12 historical docs the
    (band_idx, key, doc_id) index is a persisted table; the join is
    one shuffle keyed (band_idx, key) where the batch side is orders
    of magnitude smaller.

    ``bucket_cap`` bounds how many history entries any one bucket may
    contribute, and it is enforced WITHOUT touching the history rows
    twice: bucket sizes come from ``bucket_sizes`` — the per-bucket
    count table a production index persists alongside itself (the
    ``minhash_bucket_sizes`` relation, maintained at ingest) — or,
    when not supplied, from one map-side-partial groupBy count.  The
    oversized-bucket list (buckets with > cap members — a handful of
    viral keys by construction) is then BROADCAST and anti-joined
    against the index, so the plan has NO window over the history: a
    ``count(*) OVER (band, key)`` recount would re-shuffle all 10^12
    index rows per daily run just to rediscover sizes the index
    already knows.  Dropped buckets stay observable: the oversized
    list is exactly ``minhash_bucket_sizes(...).where(n > cap)``.
    Output: doc_id (batch), dup_of (history), n_bands."""
    cut = history_frac_hex if history_frac_hex is not None \
        else int(0.5 * 16 ** 8)
    stacked = _minhash_band_rows(documents, k, bands)
    is_hist = (F.conv(F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") < cut)
    s = stacked.withColumn("is_hist", is_hist)
    hist = (s.where(F.col("is_hist"))
            .select("band_idx", "key",
                    F.col("doc_id").alias("dup_of")))
    if bucket_cap is not None:
        sizes = bucket_sizes if bucket_sizes is not None else \
            hist.groupBy("band_idx", "key").agg(F.count("*").alias("n"))
        oversized = (sizes.where(F.col("n") > bucket_cap)
                     .select("band_idx", "key"))
        hist = hist.join(F.broadcast(oversized),
                         ["band_idx", "key"], "left_anti")
    batch = (s.where(~F.col("is_hist"))
             .select("band_idx", "key", "doc_id"))
    return (batch.join(hist, ["band_idx", "key"])
            .groupBy("doc_id", "dup_of")
            .agg(F.count("*").cast("long").alias("n_bands")))
