"""Repository benchmark: production jobs on seeded inputs, closed loop.

    python3 perfbench/run.py --workload ocr_unique --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  One client runs one job at a time
through the program's own entry points (``plans.lineage.run_extract_job``
for OCR, ``jobs/clean_corpus.run`` for corpus cleaning) on the
program's own session (``sources.session.get_spark``, local[nproc]).
Every timed job's output is checked against the oracles.  The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
from a separately traced run with ``--trace 1``).  Inputs, weights, the
oracle's OCR transcripts and traces live under ``.perfbench_cache/`` in
the repository root.  The run happens in a child process, and this one
exits only when every process under it has ended (see ``supervise``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUCKETS = 32  # the lineage jobs' default bucket count
FORGET_SHARE = 0.25  # resume phase: share of written docs to recommit
END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s",
              "peak_pss_mb": "MB", "ok_ratio": "ratio"}
HIRES_HEIGHT = 144  # the job's --detect-height for the high-res probe
HIRES_IMAGES = 1
KERNEL_IMAGES = 16  # images in the traced single-process oracle pass
PAIR_DOCS = 16  # OCR docs in the traced run's overhead and scaling pairs
REQUIRED = ("ocr_pytorch_spark/__init__.py", "jobs/clean_corpus.py",
            "__spark_entry__.py")


def _fingerprint(root: str) -> str:
    """Hash of the program's sources: keys the weights and oracle caches,
    so a change to weight generation or OCR never reads stale ones."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "ocr_pytorch_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _configure_env(work: str, keyed: str) -> None:
    """Keep every file the program, the JVM and the workers write inside
    the checkout, and size the Spark driver for a shared 4-core host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # no perf-data file: the JVM would keep one in /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
    os.environ["SPARK_GRAFT_WEIGHTS_DIR"] = os.path.join(keyed, "weights")


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _hires(metric: str) -> str:
    return f"{metric}.h{HIRES_HEIGHT}"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Bench:
    """One run of one workload: prepare inputs, set up, measure, check."""

    def __init__(self, w, seed: int, seconds: float, work: str,
                 keyed: str) -> None:
        self.w, self.seed, self.seconds = w, seed, seconds
        self.work, self.keyed = work, keyed
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list = []
        self._dst_n = 0
        self.subsets: dict[str, set[str]] = {}  # input -> its doc_ids
        from tracing import Tracer

        self.tracer = Tracer()

    # --- inputs and oracles (untimed) -------------------------------

    def prepare(self) -> None:
        import workloads as WL

        w, d = self.w, os.path.join(self.work, "inputs")
        os.makedirs(d)
        self.paths = {}
        if w.kind == "corpus":
            import checks

            rows = WL.corpus_rows(w.docs, self.seed)
            self.paths["docs"] = WL.write_corpus(
                os.path.join(d, "docs.parquet"), rows)
            self.paths["warmup"] = WL.write_corpus(
                os.path.join(d, "warmup.parquet"),
                rows[:len(rows) // w.warmup_share])
            self.n_docs = len(rows)
            self.expected = checks.corpus_expected(self.paths["docs"])
            return
        from ocr_pytorch_spark.models import weights as W

        W.load_bundled()  # generates the fixture weights on first use
        docs = WL.ocr_documents(w, self.seed)
        self.docs = docs
        self.n_docs = len(docs)
        self.refs = WL.media_refs(docs)
        self.doc_refs = {x["doc_id"]: {s[2] for s in x["spans"]
                                       if s[0] == "media"} for x in docs}
        self.media_spans = sum(len(r) for r in self.doc_refs.values())
        self.paths["docs"] = WL.write_docs(os.path.join(d, "docs.parquet"),
                                           docs)
        warmup = docs[:len(docs) // w.warmup_share]
        self.paths["warmup"] = WL.write_docs(
            os.path.join(d, "warmup.parquet"), warmup)
        pair = docs[:PAIR_DOCS]
        self.paths["pair"] = WL.write_docs(os.path.join(d, "pair.parquet"),
                                           pair)
        self.subsets["pair"] = {x["doc_id"] for x in pair}
        self.paths["images"] = WL.write_images(
            os.path.join(d, "images.parquet"), self.refs)

    def oracle_pool(self) -> None:
        """The expected output of the OCR job from the oracle's
        transcripts of its images.  They are kept per image of the fixed
        pool, under the cache keyed by the program's sources.  When an
        image of this run is missing, a process pool computes every
        missing one of the whole pool, so only the first run in a
        checkout pays for it: runs whose pool had work to do measured
        their timed job 15-25% slower than runs after them."""
        import checks
        import workloads as WL

        if self.w.kind != "ocr":
            return
        dh = self.w.detect_height
        path = os.path.join(self.keyed, f"oracle-{self.w.name}-h{dh}.json")
        known = {}
        if os.path.exists(path):
            with open(path) as f:
                known = json.load(f)
        if any(r not in known for r in self.refs):
            todo = [r for r in WL.image_pool(self.w) if r not in known]
            known.update(checks.oracle_transcripts(todo, WL.IMAGE_SEED, dh,
                                                   self.nproc))
            with open(path + ".tmp", "w") as f:
                json.dump(known, f)
            os.replace(path + ".tmp", path)
        self.expected = checks.ocr_expected(
            self.docs, {r: [tuple(p) for p in known[r]] for r in self.refs},
            dh)

    def oracle_traced(self) -> dict[str, float]:
        """Single-process oracle passes with the kernels' public
        functions wrapped from outside: over KERNEL_IMAGES of the
        workload's images at its own detect height (every k-th by
        aspect ratio, so the sample spans the widths), and over the
        HIRES_IMAGES widest of them at HIRES_HEIGHT, where recognition
        outweighs detection and wide images put 3x3 convs in the
        Winograd window."""
        import workloads as WL
        from ocr_pytorch_spark.datagen import gen_image_array

        m = dict.fromkeys([*KERNEL_METRICS, *map(_hires, HIRES_METRICS)],
                          0.0)
        if self.w.kind != "ocr":
            return m

        def aspect(ref: str) -> float:
            h, w = gen_image_array(ref, WL.IMAGE_SEED)[0].shape[:2]
            return w / h

        by_aspect = sorted(self.refs, key=aspect)
        k = max(1, len(by_aspect) // KERNEL_IMAGES)
        m.update(self._kernel_pass(by_aspect[k // 2::k][:KERNEL_IMAGES],
                                   self.w.detect_height))
        hires = self._kernel_pass(by_aspect[-HIRES_IMAGES:], HIRES_HEIGHT)
        m.update({_hires(k): hires[k] for k in HIRES_METRICS})
        return m

    def _kernel_pass(self, refs: list[str], detect_height: int
                     ) -> dict[str, float]:
        import checks
        import workloads as WL
        from ocr_pytorch_spark.config import PipelineConfig
        from ocr_pytorch_spark.datagen import gen_image_array
        from ocr_pytorch_spark import oracle

        t = self.tracer
        tag = f"h{detect_height}."  # keeps each pass's counters apart

        def conv_flop(tr, args, out):
            x, wt = args[0], args[1]
            tr.add(tag + "conv_gflop", 2.0 * out.size * x.shape[1]
                   * wt.shape[2] * wt.shape[3] / 1e9)

        t.instrument("ocr_pytorch_spark.models.ctpn", "conv2d",
                     "kernels.conv2d", conv_flop)
        t.instrument("ocr_pytorch_spark.models.crnn", "conv2d",
                     "kernels.conv2d", conv_flop)
        t.instrument("ocr_pytorch_spark.kernels.nn", "_conv2d_winograd3x3",
                     tag + "winograd", timed=False)
        t.instrument("ocr_pytorch_spark.oracle", "rotate_crop",
                     "kernels.rotate_crop")
        t.instrument("ocr_pytorch_spark.oracle", "get_det_boxes",
                     "models.ctpn.get_det_boxes",
                     lambda tr, a, out: tr.add(tag + "boxes", len(out[0])))
        t.instrument("ocr_pytorch_spark.oracle", "recognize",
                     "models.crnn.recognize")
        t.instrument("ocr_pytorch_spark.oracle", "char_rec",
                     "oracle.char_rec",
                     lambda tr, a, out: tr.add(tag + "kept", len(out)))
        ctpn, crnn = checks.load_weights()
        cfg = PipelineConfig(detect_height=detect_height)
        try:
            with t.span("oracle.pass") as p:
                for ref in refs:
                    img, _ = gen_image_array(ref, WL.IMAGE_SEED)
                    with t.span("oracle.ocr_image"):
                        oracle.ocr_image(img, ctpn, crnn, cfg)
        finally:
            t.restore()
        under = t.descendants(p["id"])
        n_img = len(refs)
        selfs = t.self_times(under)
        lines = t.calls("models.crnn.recognize", under)
        conv_s = selfs.get("kernels.conv2d", 0.0)
        gflop = t.counts.get(tag + "conv_gflop", 0.0)
        boxes = t.counts.get(tag + "boxes", 0)
        recognize_s = t.total("models.crnn.recognize", under)
        return {
            "kernels.conv2d.self_s": conv_s,
            "kernels.conv2d.calls": t.calls("kernels.conv2d", under),
            "kernels.conv2d.gflop": gflop,
            "kernels.conv2d.gflops_per_s": gflop / conv_s if conv_s else 0.0,
            "kernels.conv2d.winograd_calls": t.counts.get(tag + "winograd",
                                                          0),
            "kernels.rotate_crop.self_s": selfs.get("kernels.rotate_crop",
                                                    0.0),
            "models.ctpn.get_det_boxes.ms_per_image":
                1e3 * t.total("models.ctpn.get_det_boxes", under) / n_img,
            "models.ctpn.boxes_per_image": boxes / n_img,
            "models.crnn.recognize.ms_per_line":
                1e3 * recognize_s / lines if lines else 0.0,
            "models.crnn.recognize.ms_per_image": 1e3 * recognize_s / n_img,
            "models.crnn.lines": lines,
            "oracle.ocr_image.ms_per_image":
                1e3 * t.total("oracle.ocr_image", under) / n_img,
            "oracle.char_rec.kept_ratio":
                t.counts.get(tag + "kept", 0) / boxes if boxes else 0.0,
        }

    # --- session ----------------------------------------------------

    def setup(self, warmup: str = "warmup") -> dict[str, float]:
        """JVM and session start at local[nproc], weight load and the
        warm-up job, timed as set-up, not throughput.  The warm-up runs
        the input ``warmup`` (by default the first 1/warmup_share of the
        docs) through the same job, which starts every Python worker and
        compiles the same plans."""
        t = self.tracer
        with t.span("setup"):
            t0 = time.perf_counter()
            with t.span("sources.session.get_spark"):
                self.start_session(self.nproc)
            t1 = time.perf_counter()
            if self.w.kind == "ocr":
                from ocr_pytorch_spark.models import weights as W

                with t.span("models.weights.load_bundled"):
                    W.load_bundled.__wrapped__()
            t2 = time.perf_counter()
            with t.span("warmup"):
                self.run_job(self.frame(warmup), self._dst())
            t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "start_s": t1 - t0, "load_s": t2 - t1}

    def start_session(self, cpus: int) -> None:
        """A session at local[cpus]; a previous one is stopped first and
        its JVM kept."""
        from ocr_pytorch_spark.sources.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app="perfbench", cpus=str(cpus))
        self._frames = {}

    def teardown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM and every
        process under it (the Python worker daemon and workers) to exit."""
        from tracing import descendants, wait_gone

        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gw is None:
            return
        proc = gw.proc
        pids = [proc.pid] + descendants(proc.pid)
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        wait_gone(pids, timeout=30)

    # --- jobs -------------------------------------------------------

    def frame(self, name: str):
        """The input ``name`` as a DataFrame of the current session."""
        if name not in self._frames:
            self._frames[name] = self.spark.read.parquet(self.paths[name])
        return self._frames[name]

    def _dst(self) -> str:
        self._dst_n += 1
        return os.path.join(self.work, f"dst-{self._dst_n}")

    def run_job(self, docs_df, dst: str, resume: bool = False) -> dict:
        if self.w.kind == "corpus":
            import clean_corpus

            return clean_corpus.run(self.spark, docs_df, dst,
                                    buckets=BUCKETS, resume=resume)
        from ocr_pytorch_spark.config import PipelineConfig
        from ocr_pytorch_spark.plans.lineage import run_extract_job

        return run_extract_job(
            self.spark, docs_df, self.frame("images"), dst,
            PipelineConfig(detect_height=self.w.detect_height),
            buckets=BUCKETS, resume=resume)

    def forget(self, dst: str) -> set[int]:
        """Drop the lineage rows of buckets 0, 4, 8, ..., 1, 5, ... until
        they hold FORGET_SHARE of the written docs, as if those commits
        had been lost.  Counting docs rather than buckets keeps the
        resume's work the same from seed to seed."""
        import collections

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        import checks

        per_bucket = collections.Counter(
            checks.read_output(dst, ["doc_id"])["bucket"].to_pylist())
        order = [b + k for k in range(4) for b in range(0, BUCKETS, 4)]
        gone: set[int] = set()
        target = FORGET_SHARE * sum(per_bucket.values())
        for b in order:
            if sum(per_bucket[x] for x in gone) >= target:
                break
            gone.add(b)
        lin = os.path.join(dst, "_lineage")
        tbl = pq.read_table(lin)
        keep = tbl.filter(pc.invert(pc.is_in(
            tbl["bucket"], value_set=pa.array(sorted(gone), pa.int32()))))
        shutil.rmtree(lin)
        os.makedirs(lin)
        pq.write_table(keep, os.path.join(lin, "part-00000.parquet"))
        return gone

    def check(self, dst: str, buckets: set[int] | None = None,
              only: set[str] | None = None) -> None:
        """Compare the job's committed output with the oracle, restricted
        to the docs ``only`` when the job ran on a part of the input, and
        count attempts and failures (images for OCR, jobs for corpus)."""
        import checks

        if self.w.kind == "corpus":
            bad = checks.check_corpus(dst, self.expected)
            self.attempted += 1
            self.failed += bool(bad)
        else:
            att, fail, bad = checks.check_ocr(dst, self.expected,
                                              self.doc_refs, buckets, only)
            self.attempted += att
            self.failed += fail
        self.mismatches.extend(bad[:5])

    def full_rep(self, name: str = "docs") -> tuple[str, float]:
        """One job on the input ``name`` over a fresh destination; output
        checked untimed."""
        dst = self._dst()
        with self.tracer.span("rep") as rep:
            self.run_job(self.frame(name), dst)
        wall = rep["end"] - rep["start"]
        self.check(dst, only=self.subsets.get(name))
        return dst, wall

    def resume_rep(self, dst: str) -> tuple[float, dict]:
        """Forget some committed buckets of ``dst`` and rerun the job
        with resume on; the repaired output is checked untimed."""
        gone = self.forget(dst)
        with self.tracer.span("resume") as rep:
            summary = self.run_job(self.frame("docs"), dst, resume=True)
        wall = rep["end"] - rep["start"]
        self.check(dst, gone)
        return wall, summary

    # --- runs -------------------------------------------------------

    def run_untraced(self) -> dict:
        """End-to-end metrics: the set-up, then the median throughput of
        the jobs that fit in --seconds (at least the workload's
        ``timed_jobs``).

        One set-up per run: a set-up starts a JVM and warms it with a
        job, 30-45 s on a 4-core host, and a second one would not fit
        the time the whole benchmark may take; across runs its median is
        steady."""
        from tracing import PssSampler

        with self.tracer.span("oracle"):
            self.oracle_pool()
        with PssSampler() as mem:
            setup = self.setup()
            walls: list[float] = []
            t_end = time.perf_counter() + self.seconds
            # start no job that would end past the window, once
            # timed_jobs have run
            while (len(walls) < self.w.timed_jobs
                   or time.perf_counter() + _median(walls) <= t_end):
                dst, wall = self.full_rep()
                shutil.rmtree(dst)
                walls.append(wall)
            self.teardown()
        metrics = {
            "docs_per_s": _median([self.n_docs / x for x in walls]),
            "setup_s": setup["setup_s"],
            "peak_pss_mb": mem.peak / 2 ** 20,
            "ok_ratio": 1.0 - self.failed / max(1, self.attempted),
        }
        return {k: {"value": v, "unit": END_TO_END[k]}
                for k, v in metrics.items()}

    def run_traced(self) -> dict:
        """Per-layer metrics: the traced oracle passes, a traced job,
        single layers forced alone, a traced resume, and the same job
        traced and untraced for the tracing overhead.  For OCR that pair
        runs on the first PAIR_DOCS docs, whose untraced job is also the
        local[nproc] side of the local[1] scaling pair: on the whole
        input the pairs would not fit the time one run may take."""
        import tracing

        t = self.tracer
        with t.span("oracle"):
            self.oracle_pool()
        m = self.oracle_traced()
        ocr = self.w.kind == "ocr"
        base = "pair" if ocr else "docs"
        # the traced run reports no setup_s: a warm-up on the small pair
        # input starts the same workers in less time
        s1 = self.setup(base if ocr else "warmup")
        m["sources.session.start_s"] = s1["start_s"]
        m["models.weights.load_s"] = s1["load_s"]
        n_base = len(self.subsets["pair"]) if ocr else self.n_docs
        if not ocr:
            dst, untraced = self.full_rep(base)
            shutil.rmtree(dst)
        self._instrument_jobs()
        try:
            dst = self._dst()
            with tracing.job_group(self.spark, "job"), t.span("job") as job:
                self.run_job(self.frame("docs"), dst)
            self.check(dst)
            job_wall = traced = job["end"] - job["start"]
            m["plans.lineage.bytes_written"] = _dir_bytes(dst)
            m.update(self._forced_layers(dst, job_wall))
            m.update(self._udf_metrics(dst, job_wall, m))
            with tracing.job_group(self.spark, "resume"):
                resume_s, summary = self.resume_rep(dst)
            m["plans.lineage.resume_s"] = resume_s
            m["plans.lineage.resume_docs_reprocessed"] = summary.get(
                "docs_processed", 0)
            if ocr:
                dst, traced = self.full_rep(base)
                shutil.rmtree(dst)
        finally:
            t.restore()
        for group in ("job", "resume", "layers"):
            for k, v in tracing.stage_metrics(self.spark, group).items():
                m[f"spark.{group}.{k}"] = v
        if ocr:
            dst, untraced = self.full_rep(base)
            shutil.rmtree(dst)
        m["trace.overhead_docs_per_s"] = n_base / traced - n_base / untraced
        m.update(self._scaling(base, n_base, untraced) if ocr
                 else dict.fromkeys(SCALING_METRICS, 0.0))
        self.teardown()
        return {k: {"value": float(v), "unit": PER_LAYER[k]}
                for k, v in m.items()}

    def _instrument_jobs(self) -> None:
        t = self.tracer
        for mod, attr in (
                ("ocr_pytorch_spark.plans.lineage", "committed_buckets"),
                ("ocr_pytorch_spark.plans.lineage", "_read_optional"),
                ("ocr_pytorch_spark.plans.lineage", "extract"),
                ("ocr_pytorch_spark.operators.extract", "ocr_transcripts"),
                ("ocr_pytorch_spark.plans.lineage", "run_bucketed_write"),
                ("ocr_pytorch_spark.sources.tables", "write_partitioned"),
                ("ocr_pytorch_spark.sources.tables", "read_partitioned"),
                ("ocr_pytorch_spark.operators.dedup", "dup_components"),
                ("ocr_pytorch_spark.operators.text", "quality_score"),
                ("ocr_pytorch_spark.operators.text", "lang_id")):
            t.instrument(mod, attr)
        for mod, cls, attr in (
                ("pyspark.sql.classic.dataframe", "DataFrame", "count"),
                ("pyspark.sql.classic.dataframe", "DataFrame", "collect"),
                ("pyspark.sql.readwriter", "DataFrameWriter", "parquet")):
            t.instrument(mod, f"{cls}.{attr}", f"spark.{attr}")

    def _forced_layers(self, dst: str, job_wall: float
                       ) -> dict[str, float]:
        """Force single layers alone (noop sink) under job group
        'layers', each timed on its own: the OCR stage, cached, then
        ``extract`` reading that cache, which leaves it the reassembly;
        or dedup and text scoring; and for both, the write and lineage commit of the
        job's output ``dst`` read back and rewritten through
        ``plans.lineage.run_bucketed_write``.  What the layers' walls
        leave of the job wall is the unattributed remainder: plan glue
        (joins, counts, the keeper window) and any overlap the job gains
        by running the layers in one plan, which makes it negative."""
        import tracing
        from ocr_pytorch_spark.plans.lineage import run_bucketed_write

        t, docs = self.tracer, self.frame("docs")
        out = {"operators.extract.ocr_stage_s": 0.0,
               "operators.extract.reassembly_s": 0.0,
               "operators.dedup.dup_components_s": 0.0,
               "operators.text.quality_lang_s": 0.0}

        def force(name, build):
            # build inside the span: some layers (dup_components' label
            # propagation) run Spark jobs when called, not when written
            with tracing.job_group(self.spark, "layers"), \
                    t.span("forced." + name) as s:
                build().write.format("noop").mode("overwrite").save()
            return s["end"] - s["start"]

        if self.w.kind == "corpus":
            from ocr_pytorch_spark.operators import dedup as D, text as T

            out["operators.dedup.dup_components_s"] = force(
                "operators.dedup.dup_components",
                lambda: D.dup_components(docs, bucket_cap=1000))
            out["operators.text.quality_lang_s"] = force(
                "operators.text.quality_lang",
                lambda: T.quality_score(docs).select("doc_id", "quality")
                .join(T.lang_id(docs).select("doc_id", "lang_pred"),
                      "doc_id"))
        else:
            from ocr_pytorch_spark.config import PipelineConfig
            from ocr_pytorch_spark.operators import extract as X

            images = self.frame("images")
            cfg = PipelineConfig(detect_height=self.w.detect_height)
            spec = X.file_weights_spec()
            acc = X.ocr_timing_accumulator(self.spark)
            media = X.explode_spans(docs).where("kind = 'media'")
            transcripts = X.ocr_transcripts(images, media, spec, cfg,
                                            timing_acc=acc).persist()
            out["operators.extract.ocr_stage_s"] = force(
                "operators.extract.ocr_transcripts", lambda: transcripts)
            self.ocr_stage_busy = sum(w_ms for _, _, w_ms in acc.value) / 1e3
            orig = X.ocr_transcripts
            X.ocr_transcripts = lambda *args, **kwargs: transcripts
            try:
                out["operators.extract.reassembly_s"] = force(
                    "operators.extract.reassembly",
                    lambda: X.extract(docs, images, spec, cfg))
            finally:
                X.ocr_transcripts = orig
                transcripts.unpersist()
        written = (self.spark.read.parquet(os.path.join(dst, "data"))
                   .drop("bucket"))
        with tracing.job_group(self.spark, "layers"), \
                t.span("forced.plans.lineage.run_bucketed_write") as s:
            run_bucketed_write(
                self.spark, written, self._dst(), buckets=BUCKETS,
                resume=False, stage=self.w.name,
                payload_col="text" if self.w.kind == "corpus" else None)
        out["plans.lineage.write_commit_s"] = s["end"] - s["start"]
        rest = job_wall - sum(out.values())
        out["trace.job_unattributed_s"] = rest
        out["trace.job_unattributed_share"] = rest / job_wall
        return out

    def _udf_metrics(self, dst: str, job_wall: float, m: dict) -> dict:
        out = dict.fromkeys(
            ("operators.extract.udf_busy_s",
             "operators.extract.udf_partition_skew",
             "operators.extract.udf_busy_share",
             "operators.extract.udf_job_share",
             "operators.extract.images_ocrd",
             "operators.extract.reuse_ratio"), 0.0)
        if self.w.kind != "ocr":
            return out
        import pyarrow.parquet as pq

        rows = [r for r in pq.read_table(os.path.join(dst, "_metrics"))
                .to_pylist() if r["stage"] == "ocr_partition"
                and r["n_rows"] > 0]
        walls = [r["wall_ms"] / 1e3 for r in rows]
        busy = sum(walls)
        images = sum(r["n_rows"] for r in rows)
        ocr_s = m["operators.extract.ocr_stage_s"]
        out.update({
            "operators.extract.udf_busy_s": busy,
            "operators.extract.udf_partition_skew":
                max(walls) / statistics.median(walls) if walls else 0.0,
            "operators.extract.udf_busy_share":
                self.ocr_stage_busy / (self.nproc * ocr_s) if ocr_s else 0.0,
            "operators.extract.udf_job_share":
                busy / (self.nproc * job_wall),
            "operators.extract.images_ocrd": images,
            "operators.extract.reuse_ratio":
                self.media_spans / images if images else 0.0,
        })
        return out

    def _scaling(self, name: str, n: int, wall_n: float
                 ) -> dict[str, float]:
        """docs/s at local[nproc] (``wall_n``, this run's untraced job on
        the ``n`` docs of the input ``name``) over nproc x docs/s at local[1] on the same
        input.  The local[1] session starts in the warm JVM with no
        warm-up job of its own: its one Python worker starts inside the
        timed job."""
        self.start_session(1)
        dst, wall_1 = self.full_rep(name)
        shutil.rmtree(dst)
        high, low = n / wall_n, n / wall_1
        return {"spark.scaling_eff": high / (self.nproc * low),
                "spark.scaling_docs_per_s_1": low,
                "spark.scaling_docs_per_s_n": high}


KERNEL_METRICS = {
    "kernels.conv2d.self_s": "s", "kernels.conv2d.calls": "count",
    "kernels.conv2d.gflop": "GFLOP", "kernels.conv2d.gflops_per_s": "GFLOP/s",
    "kernels.conv2d.winograd_calls": "count",
    "kernels.rotate_crop.self_s": "s",
    "models.ctpn.get_det_boxes.ms_per_image": "ms",
    "models.ctpn.boxes_per_image": "count",
    "models.crnn.recognize.ms_per_line": "ms",
    "models.crnn.recognize.ms_per_image": "ms",
    "models.crnn.lines": "count",
    "oracle.ocr_image.ms_per_image": "ms",
    "oracle.char_rec.kept_ratio": "ratio",
}
SCALING_METRICS = {"spark.scaling_eff": "ratio",
                   "spark.scaling_docs_per_s_1": "docs/s",
                   "spark.scaling_docs_per_s_n": "docs/s"}
HIRES_METRICS = ("kernels.conv2d.gflop", "kernels.conv2d.winograd_calls",
                 "models.ctpn.get_det_boxes.ms_per_image",
                 "models.crnn.recognize.ms_per_image")
PER_LAYER = dict(KERNEL_METRICS, **{
    _hires(k): KERNEL_METRICS[k] for k in HIRES_METRICS}, **{
    "operators.extract.udf_busy_s": "s",
    "operators.extract.udf_partition_skew": "ratio",
    "operators.extract.udf_busy_share": "ratio",
    "operators.extract.udf_job_share": "ratio",
    "operators.extract.ocr_stage_s": "s",
    "operators.extract.reassembly_s": "s",
    "operators.extract.images_ocrd": "count",
    "operators.extract.reuse_ratio": "ratio",
    "plans.lineage.write_commit_s": "s",
    "plans.lineage.bytes_written": "bytes",
    "plans.lineage.resume_docs_reprocessed": "count",
    "plans.lineage.resume_s": "s",
    "sources.session.start_s": "s",
    "models.weights.load_s": "s",
    "operators.dedup.dup_components_s": "s",
    "operators.text.quality_lang_s": "s",
    **SCALING_METRICS,
    "trace.overhead_docs_per_s": "docs/s",
    "trace.job_unattributed_s": "s",
    "trace.job_unattributed_share": "ratio",
}, **{f"spark.{g}.{k}": ("s" if k.endswith("_s") else
                         "bytes" if k.endswith("bytes") else "count")
      for g in ("job", "resume", "layers")
      for k in ("shuffle_write_bytes", "shuffle_read_bytes",
                "executor_run_s", "jvm_gc_s", "tasks")})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(
        os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "jobs"))
    # the package picks the BLAS kernel family, so it must load before
    # numpy does, as it does in the jobs and the Spark workers
    import ocr_pytorch_spark  # noqa: F401
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(sorted(WORKLOADS))}")

    cache = os.path.join(root, ".perfbench_cache")
    work = os.path.join(cache, f"run-{os.getpid()}")
    keyed = os.path.join(cache, "src-" + _fingerprint(root))
    os.makedirs(work)
    os.makedirs(keyed, exist_ok=True)
    _configure_env(work, keyed)
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, work,
                  keyed)
    context = {"host_before": None, "host_after": None}
    try:
        from tracing import host_context

        context["host_before"] = host_context()
        with bench.tracer.span("prepare"):
            bench.prepare()
        metrics = bench.run_traced() if args.trace else bench.run_untraced()
        context["host_after"] = host_context()
    finally:
        with bench.tracer.span("teardown"):
            bench.teardown()
        shutil.rmtree(work, ignore_errors=True)
    run_info = {"workload": args.workload, "seed": args.seed,
                "context": context, "mismatched_docs": bench.mismatches[:10]}
    bench.tracer.dump(os.path.join(
        cache, "traces", f"{args.workload}-seed{args.seed}"
        f"-trace{args.trace}.json"), **run_info)
    print(json.dumps(run_info), file=sys.stderr)
    print(json.dumps({"correct": bench.failed == 0 and bench.attempted > 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 30.0


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process and return its exit code once
    every process under it has ended.  As a child subreaper this process
    inherits whatever the run orphans (multiprocessing's resource
    tracker, which exits only after the run does; a JVM or Python worker
    whose parent died), waits for each, and SIGKILLs those still alive
    REAP_GRACE_S after the child exits."""
    import ctypes
    import signal
    import subprocess

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become a child subreaper: "
              f"{os.strerror(ctypes.get_errno())}", file=sys.stderr)
        return 1
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                              *argv], env=dict(os.environ, **{CHILD_ENV: "1"}))

    def forward(signum, _frame):
        child.send_signal(signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, forward)
    rc = child.wait()
    from tracing import descendants

    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return rc  # no process under this one is left
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV)
             else supervise(sys.argv[1:]))
