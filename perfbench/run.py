#!/usr/bin/env python3
"""Seeded batch benchmark of the extraction engine's production path.

    python3 perfbench/run.py --workload convert --seed 1 --seconds 6 --trace 0

Run from the repository root. One process drives one closed-loop batch
job on ``local[nproc]``: it generates the workload's ``documents`` table
from ``--seed``, starts the Spark session through ``session.get_spark``,
lets the program build whatever pre-state the workload needs (untimed),
runs one untimed warm pass, then repeats the timed pass until
``--seconds`` have been measured, checks the last pass's outputs against
the DuckDB oracle, and prints a report followed by one JSON result line.

Workloads (see gen.py for the inputs):

- ``convert``: ``run_extraction`` into an empty table, then
  ``with_exports`` (four formats) and ``chunk_spans`` over the committed
  rows, each written out: the reference's full per-document response;
- ``resume``: ``run_extraction`` over a batch ~90% of which an earlier
  ``run_extraction`` already committed (anti-join, committed-table scan,
  merge commit against existing manifests);
- ``dedup``: ``run_dedup`` over the text of an extracted corpus with
  near-duplicate families, exact copies and one template family larger
  than the LSH hot-bucket cap.

``--trace 0`` reports the end-to-end metrics (setup_s, docs_per_s,
cpu_s_per_kdoc, peak_rss_mb). ``--trace 1`` first makes a paired
``--trace 0`` run in a child process (for the tracing overhead), then
switches the Spark event log on and reports the per-layer metrics
instead (layers.py). Each run's full
record is also written to ``.perfbench_out/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
CHUNK_BUDGET = 40  # chunking.DEFAULT_BUDGET, the production default
DEDUP_KEPT_BUCKET_MAX = 64  # near-dup families and exact copies stay far below
DRIVER_MEM = "4g"  # the package default (16g) is more than a shared 4-core host should pin
DISCONTINUITY = (
    "not comparable with BENCH_r01-r08 or bench.py: those were best-of-N at "
    "local[32] over fixed testdata through the fused datagen+extract kernels; "
    "this benchmark is seeded, runs local[nproc] through run_extraction/run_dedup, "
    "and reports medians"
)


def _process_start() -> float:
    """Wall-clock time this process started: its start time since boot
    (/proc, clock ticks) against the boot-time clock now."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    age = time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def _configure_env(work: str, trace: bool) -> str | None:
    """Environment the Spark JVM and its Python workers inherit: the
    repository on PYTHONPATH, scratch space inside the work dir, and
    (traced runs) an uncompressed event log. Returns the log dir."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
    # says; the launcher JVM and the driver JVM both read this variable
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # a fixed-size heap and young generation: G1 sizing, and with it
        # the touched (resident) part of the heap, stays the same from
        # run to run, so the JVM's RSS follows what the program keeps
        "--driver-java-options",
        f"-Xms{DRIVER_MEM} -Xmn1g -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "events")
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file:{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


class Workload:
    """One workload's pre-state, timed pass and oracle check."""

    calls: tuple = ()
    # the first timed extraction pass is still warming up (often 20%,
    # at times 50% slower than the next), so the median needs three
    min_passes = 3

    def __init__(self, spark, spans, inputs: dict, work: str, cores: int, trace: bool):
        self.spark, self.spans, self.inputs = spark, spans, inputs
        self.work, self.cores, self.trace = work, cores, trace
        self.n_docs = inputs["documents"].num_rows
        self.counters: dict = {}

    def _raw(self):
        """Write the raw-span table the timed passes read: each document
        rendered by ``corpus.render_raw_spans`` (the per-row function of
        ``corpus.docs_raw``) in this process, so no Spark job runs before
        the warm pass; injected broken documents get one malformed cell.
        The batch lands as one file, as one ingest export would, so it
        has fewer splits than cores and ``spread_by_size`` repartitions
        it before the kernel."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        from docling_fast_server_spark.corpus import render_raw_spans
        from docling_fast_server_spark.model import SPANS_TYPE, doc_id_str

        docs = self.inputs["documents"].to_pydict()
        broken = set(self.inputs["broken_ids"])
        spans = []
        for d, text in zip(docs["doc_id"], docs["text"]):
            s = render_raw_spans(d, text)
            if d in broken:
                # the first text cell's JSON provenance gets a stray brace
                i = min((c for c in s if c["kind"] == "pdf_cell"), key=lambda c: c["offset"])
                i["text"] = "{" + i["text"]
            spans.append(s)
        table = pa.table({
            "doc_id": pa.array([doc_id_str(d) for d in docs["doc_id"]]),
            "spans": pa.array(spans, type=to_arrow_type(SPANS_TYPE)),
            "n_chars": pa.array([len(t) for t in docs["text"]], type=pa.int32()),
        })
        return self._write(table, "raw", files=1)

    def _write(self, table, name: str, files: int):
        """Write ``table`` as ``files`` parquet files and return it as a
        DataFrame."""
        import pyarrow.parquet as pq

        path = os.path.join(self.work, name)
        os.makedirs(path)
        step = -(-table.num_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
        return self.spark.read.parquet(path)

    def stage(self, k: int) -> None:
        """Untimed preparation of pass ``k``."""

    def pass_dir(self, k: int) -> str:
        d = os.path.join(self.work, f"pass{k}")
        os.makedirs(d, exist_ok=True)
        return d

    def extraction_check(self, con, out: str) -> set:
        import check

        from docling_fast_server_spark.sources.io import read_table

        got = read_table(self.spark, out).select("doc_id", "spans", "conversion_method").toArrow()
        return check.extraction_errors(con, got)

    def lineage_counters(self, lin: str) -> None:
        from docling_fast_server_spark.sources.io import read_table

        row = read_table(self.spark, lin).selectExpr(
            "count(*) AS n", "sum(error_count) AS failed",
            "sum(method_limited) AS limited", "sum(span_count) AS spans",
        ).first()
        self.counters.update({
            "lineage.rows": row["n"],
            "dispatch.docs_failed": row["failed"] or 0,
            "dispatch.docs_limited": row["limited"] or 0,
            "dispatch.spans_out": row["spans"] or 0,
        })


class Convert(Workload):
    calls = ("run_extraction", "with_exports", "chunk_spans")

    def prepare(self) -> None:
        self.raw = self._raw()

    def run(self, k: int) -> dict:
        from docling_fast_server_spark.operators.chunking import chunk_spans
        from docling_fast_server_spark.operators.exports import with_exports
        from docling_fast_server_spark.plans.pipeline import run_extraction
        from docling_fast_server_spark.sources.io import read_table

        d = self.pass_dir(k)
        p = {x: os.path.join(d, x) for x in ("out", "lin", "exports", "chunks")} | {"dir": d}
        with self.spans.call("run_extraction", k):
            run_extraction(self.spark, self.raw, p["out"], p["lin"])
        with self.spans.call("with_exports", k):
            with_exports(read_table(self.spark, p["out"])).select(
                "doc_id", "markdown", "html", "doctags", "doc_json"
            ).write.parquet(p["exports"])
        with self.spans.call("chunk_spans", k):
            chunk_spans(read_table(self.spark, p["out"]), budget=CHUNK_BUDGET).write.parquet(
                p["chunks"]
            )
        return p

    def check(self, con, p: dict) -> tuple[set, list]:
        import check
        import pyarrow.parquet as pq

        bad = self.extraction_check(con, p["out"])
        bad |= check.export_errors(con, pq.read_table(p["exports"]))
        bad |= check.chunk_errors(con, pq.read_table(p["chunks"]), CHUNK_BUDGET)
        self.lineage_counters(p["lin"])
        return bad, []

    def ctx(self, k: int) -> dict:
        return {"resume": False, "lineage_path": os.path.join(self.work, f"pass{k}", "lin")}


class Resume(Workload):
    calls = ("run_extraction",)

    def prepare(self) -> None:
        from docling_fast_server_spark.model import doc_id_str
        from docling_fast_server_spark.plans.pipeline import run_extraction

        self.raw = self._raw()
        done = self.spark.createDataFrame(
            [(doc_id_str(d),) for d in self.inputs["committed_ids"]], "doc_id string"
        )
        self.pre = os.path.join(self.work, "pre")
        os.makedirs(self.pre)
        run_extraction(
            self.spark, self.raw.join(done, "doc_id", "left_semi"),
            os.path.join(self.pre, "out"), os.path.join(self.pre, "lin"),
        )

    def stage(self, k: int) -> None:
        # every pass resumes the same program-built pre-state
        shutil.copytree(self.pre, os.path.join(self.work, f"pass{k}"))

    def run(self, k: int) -> dict:
        from docling_fast_server_spark.plans.pipeline import run_extraction

        d = self.pass_dir(k)
        p = {"dir": d, "out": os.path.join(d, "out"), "lin": os.path.join(d, "lin")}
        with self.spans.call("run_extraction", k):
            run_extraction(self.spark, self.raw, p["out"], p["lin"])
        return p

    def check(self, con, p: dict) -> tuple[set, list]:
        bad = self.extraction_check(con, p["out"])
        self.lineage_counters(p["lin"])
        return bad, []

    def ctx(self, k: int) -> dict:
        return {"resume": True, "lineage_path": os.path.join(self.work, f"pass{k}", "lin")}


def _body_text(doc: tuple[int, str]) -> str:
    """One document of the dedup corpus: rendered to raw spans, extracted
    by the program's HTML or PDF parser and reduced to the text a
    training pipeline would dedup (body text, code and formula spans;
    not headers, tables or pictures)."""
    from docling_fast_server_spark.corpus import render_raw_spans
    from docling_fast_server_spark.model import doc_id_str
    from docling_fast_server_spark.operators.html_extract import extract_html_document
    from docling_fast_server_spark.operators.pdf_layout import extract_pdf_document

    d, text = doc
    raw = render_raw_spans(d, text)
    if raw[0]["kind"] == "html":
        spans = extract_html_document(doc_id_str(d), raw[0]["text"])
    else:
        spans, _ = extract_pdf_document(raw)
    return " ".join(s["text"] for s in spans if s["kind"] in ("text", "code", "formula"))


class Dedup(Workload):
    calls = ("run_dedup", "clear_caches")
    min_passes = 1  # a pass is 11-18 s

    def prepare(self) -> None:
        """The corpus: each document extracted by ``_body_text`` in this
        process."""
        import check
        import pyarrow as pa

        from docling_fast_server_spark.model import doc_id_str

        docs = self.inputs["documents"].to_pydict()
        texts = [_body_text(doc) for doc in zip(docs["doc_id"], docs["text"])]
        ids = [doc_id_str(d) for d in docs["doc_id"]]
        self.corpus_table = pa.table({"doc_id": ids, "text": texts})
        # the template family must land in buckets the cap suppresses: a
        # kept bucket of ~1000 members would make every pass verify
        # ~500k pairs, a different workload
        self.expected = check.dedup_expected(self.corpus_table)
        if (
            self.expected["metrics"]["over_cap_buckets"] == 0
            or self.expected["largest_kept_bucket"] > DEDUP_KEPT_BUCKET_MAX
        ):
            raise RuntimeError(
                f"seed {self.inputs['seed']}: template family not suppressed by the cap "
                f"({self.expected['metrics']}, largest kept bucket "
                f"{self.expected['largest_kept_bucket']})"
            )
        # one file per core, so the scan splits evenly
        self.corpus = self._write(self.corpus_table, "corpus", files=self.cores)

    def run(self, k: int) -> dict:
        from docling_fast_server_spark.operators.dedup import clear_caches
        from docling_fast_server_spark.plans.pipeline import run_dedup

        d = self.pass_dir(k)
        p = {x: os.path.join(d, x) for x in ("survivors", "metrics", "checkpoints")} | {"dir": d}
        with self.spans.call("run_dedup", k):
            run_dedup(self.corpus, p["survivors"], p["metrics"], checkpoint_dir=p["checkpoints"])
        with self.spans.call("clear_caches", k):
            clear_caches(self.spark)
        return p

    def check(self, con, p: dict) -> tuple[set, list]:
        import check

        from docling_fast_server_spark.operators.dedup import (
            clear_caches,
            minhash_candidate_pairs,
            minhash_pairs,
        )
        from docling_fast_server_spark.sources.io import read_table

        expected = self.expected
        survivors = set(read_table(self.spark, p["survivors"]).toArrow()["doc_id"].to_pylist())
        metrics = {
            r["metric"]: r["value"] for r in read_table(self.spark, p["metrics"]).collect()
        }
        pairs = None
        if self.trace:  # the pairs are not an output of run_dedup
            pairs = {
                (a, b, round(j, 4))
                for a, b, j in minhash_pairs(self.corpus).toLocalIterator()
            }
            n_cand = minhash_candidate_pairs(self.corpus).count()
            self.counters.update({
                "dedup.candidate_pairs": n_cand,
                "dedup.verified_pairs": len(pairs),
                "dedup.verify_yield": len(pairs) / n_cand if n_cand else 0.0,
            })
        clear_caches(self.spark)
        self.counters.update({
            "dedup.suppressed_members": metrics.get("suppressed_members", 0),
            "dedup.over_cap_buckets": metrics.get("over_cap_buckets", 0),
            "dedup.max_bucket": metrics.get("max_bucket", 0),
            "components.n_clusters": metrics.get("n_clusters", 0),
            "components.max_cluster_size": metrics.get("max_cluster_size", 0),
        })
        return check.dedup_errors(expected, survivors, metrics, pairs)

    def ctx(self, k: int) -> dict:
        return {"resume": False, "lineage_path": None}


WORKLOADS = {"convert": Convert, "resume": Resume, "dedup": Dedup}


def parser_timings(inputs: dict, n: int = 400, reps: int = 5) -> dict:
    """Single-process microseconds per document of the three Python
    kernels, over the first ``n`` HTML and ``n`` PDF documents of the
    workload's input (median of ``reps`` loops)."""
    from docling_fast_server_spark.corpus import expected_spans, render_html, render_pdf_cells
    from docling_fast_server_spark.model import doc_id_str
    from docling_fast_server_spark.operators.exports import render_doc_py
    from docling_fast_server_spark.operators.html_extract import extract_html_document
    from docling_fast_server_spark.operators.pdf_layout import extract_pdf_cells_flat

    docs = inputs["documents"].to_pydict()
    pairs = list(zip(docs["doc_id"], docs["text"]))
    html = [(doc_id_str(d), render_html(d, t)) for d, t in pairs if d % 2 == 0][:n]
    pdf = []
    for d, t in [(d, t) for d, t in pairs if d % 2 == 1][:n]:
        cells = render_pdf_cells(d, t)
        pdf.append(([c["kind"] for c in cells], [c["text"] for c in cells], [c["media_ref"] for c in cells]))
    spans = []
    for d, t in pairs[:n]:
        s = expected_spans(d, t)
        spans.append(([x["kind"] for x in s], [x["text"] for x in s],
                      [x["media_ref"] for x in s], [x["offset"] for x in s]))

    def per_doc(fn, items) -> float:
        loops = []
        for _ in range(reps):
            t = time.perf_counter()
            for it in items:
                fn(*it)
            loops.append(time.perf_counter() - t)
        return statistics.median(loops) / len(items) * 1e6

    def render_all(k, t, r, o):
        for fmt in ("markdown", "html", "doctags", "doc_json"):
            render_doc_py(fmt, k, t, r, o)

    return {
        "html_extract.us_per_doc": per_doc(extract_html_document, html),
        "pdf_layout.us_per_doc": per_doc(lambda k, t, r: extract_pdf_cells_flat(k, t, r, 0, len(k)), pdf),
        "exports.render_py_us_per_doc": per_doc(render_all, spans),
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started (the JVM and the Python workers it forked) has ended."""
    from pyspark import SparkContext

    import procstat

    started = [p for p in procstat.tree_pids() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while left := [p for p in started if _alive(p)]:
        for p in left:
            try:
                os.kill(p, signal.SIGTERM if time.time() < deadline else signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _untraced_docs_per_s(args) -> float:
    """docs_per_s of an untraced run of the same workload, seed and
    code, made by this script in a child process (the event log can only
    be switched on when the JVM starts)."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, check=True, timeout=150,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"the paired untraced run failed its checks: {result}")
    return result["metrics"]["docs_per_s"]["value"]


def _heap_pools(spark) -> list:
    """The driver JVM's heap memory pools (JMX)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def _per_layer_units() -> dict:
    """name -> unit of every per-layer metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


PER_LAYER_COUNTERS = (
    "lineage.rows", "dispatch.docs_failed", "dispatch.docs_limited", "dispatch.spans_out",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.verify_yield",
    "dedup.suppressed_members", "dedup.over_cap_buckets", "dedup.max_bucket",
    "components.n_clusters", "components.max_cluster_size",
)


def main(argv: list[str] | None = None) -> int:
    t_start = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace_on = bool(args.trace)

    sys.path[:0] = [ROOT, HERE]
    try:
        import docling_fast_server_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    # the untraced half of the tracing-overhead pair runs first, so the
    # traced run's environment does not leak into it
    t = time.time()
    base_dps = _untraced_docs_per_s(args) if trace_on else 0.0
    pair_s = time.time() - t

    import check
    import gen
    import layers
    import procstat

    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    log_dir = _configure_env(work, trace_on)
    cores = len(os.sched_getaffinity(0))

    spark = None
    sampler = procstat.Sampler()
    try:
        t = time.time()
        inputs = gen.make_inputs(args.workload, args.seed)
        props = gen.properties(inputs)
        gen_s = time.time() - t

        from docling_fast_server_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", cores=cores,
                          warehouse=os.path.join(work, "warehouse"))
        session_s = time.time() - t_start - gen_s - pair_s

        spans = layers.Spans(spark, args.workload)
        wl = WORKLOADS[args.workload](spark, spans, inputs, work, cores, trace_on)
        t = time.time()
        wl.prepare()
        prestate_s = time.time() - t

        # setup: the session plus one untimed warm pass (pass 0)
        wl.stage(0)
        t = time.time()
        shutil.rmtree(wl.run(0)["dir"], ignore_errors=True)
        warm_s = time.time() - t
        setup_s = session_s + warm_s

        if trace_on and isinstance(wl, Dedup):  # components.checkpoint_rdds
            sampler.watch_dir = wl.work
        pools = _heap_pools(spark)
        for pool in pools:
            pool.resetPeakUsage()
        walls, cpus, last = [], [], None
        k = 1
        while sum(walls) < args.seconds or len(walls) < wl.min_passes:
            wl.stage(k)
            c0 = procstat.cpu_seconds(procstat.tree_pids()) + sampler.cpu_s
            sampler.start()
            t = time.perf_counter()
            p = wl.run(k)
            walls.append(time.perf_counter() - t)
            sampler.stop()
            # the sampler's own CPU is the benchmark's, not the program's
            cpus.append(procstat.cpu_seconds(procstat.tree_pids()) - sampler.cpu_s - c0)
            if last is not None:  # only the last pass's outputs are checked
                shutil.rmtree(last["dir"], ignore_errors=True)
            last = p
            k += 1
        timed = list(range(1, k))
        # per-pool peaks summed: an upper bound of the peak used heap
        heap_mb = sum(pool.getPeakUsage().getUsed() for pool in pools) / 2**20

        t = time.time()
        con = check.connect(inputs["documents"], inputs["broken_ids"])
        bad, wrong = wl.check(con, last)
        con.close()
        check_s = time.time() - t
        checkpoint_dirs = {s for s in sampler.seen if os.path.basename(s).startswith("rdd-")}
    except BaseException:
        sampler.close()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        raise
    sampler.close()
    _stop(spark)

    attempted = wl.n_docs
    failed = len(bad) if not wrong or bad else attempted
    error_share = failed / attempted
    correct = failed == 0 and not wrong
    docs_per_s = wl.n_docs / statistics.median(walls)
    cpu_s_per_kdoc = sum(cpus) / (len(walls) * wl.n_docs) * 1000
    peak_rss_mb = sampler.peak / 2**20
    jvm_rss_mb, python_pss_mb = sampler.peak_jvm / 2**20, sampler.peak_python / 2**20

    e2e = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (docs_per_s, "docs/s"),
        "cpu_s_per_kdoc": (cpu_s_per_kdoc, "s/kdoc"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    report = [
        f"workload {args.workload} seed {args.seed} trace {args.trace} host_cores {cores} "
        f"master local[{cores}]",
        "input " + " ".join(f"{k}={v}" for k, v in props.items()),
        f"setup session_s={session_s:.3f} warm_pass_s={warm_s:.3f} "
        f"(excluded: input_gen_s={gen_s:.3f} prestate_s={prestate_s:.3f} "
        f"oracle_check_s={check_s:.3f})",
        "passes_s " + " ".join(f"{w:.3f}" for w in walls) + f" (n={len(walls)}, median reported)",
    ]
    for name, (v, unit) in e2e.items():
        report.append(f"{name} {v:.4f} {unit}")
    report.append(
        f"memory peaks (MB): jvm rss {jvm_rss_mb:.1f} python pss {python_pss_mb:.1f}; "
        f"jvm heap used {heap_mb:.1f} of max {DRIVER_MEM} "
        f"(sampler cpu {sampler.cpu_s:.2f} s, not in cpu_s_per_kdoc)"
    )
    report.append(f"error_share {error_share:.4f} share ({failed}/{attempted} docs)")
    if wrong:
        report.append("failed checks: " + "; ".join(wrong))
    if bad:
        report.append("wrong docs (first 10): " + " ".join(sorted(bad)[:10]))

    if trace_on:
        log = layers.EventLog(log_dir)
        per_pass = [
            layers.pass_layers(log, spans.of_pass(k), wl.ctx(k), cores) for k in timed
        ]
        keys = sorted(set().union(*per_pass))
        med = {key: statistics.median(pp.get(key, 0) for pp in per_pass) for key in keys}
        calls_s = {c: med.get(f"call.{c}", 0.0) for c in wl.calls}
        self_s = {x: med.get(f"self.{x}", 0.0) for x in (layers.DRIVER, *layers.LAYER_PRIORITY)}
        wall = statistics.median(walls)
        self_s["bench.gap"] = max(wall - sum(calls_s.values()), 0.0)
        dominant = max(self_s, key=self_s.get)
        traced_dps = wl.n_docs / wall
        overhead = base_dps / traced_dps - 1.0
        per_layer = {
            "pipeline.call_s": sum(calls_s.values()),
            "pipeline.driver_only_s": self_s.get(layers.DRIVER, 0.0),
            "pipeline.jobs": med.get("pipeline.jobs", 0),
            "pipeline.spread_exchanges": med.get("pipeline.spread_exchanges", 0),
            "pipeline.antijoin_s": self_s.get("pipeline.antijoin", 0.0),
            "pipeline.resume_skipped_docs": (
                wl.n_docs - med.get("dispatch.docs_in", 0)
                if "run_extraction" in wl.calls else 0
            ),
            **{k: med.get(k, 0) for k in (
                "dispatch.python_run_s", "dispatch.python_init_s",
                "dispatch.bytes_to_python", "dispatch.bytes_from_python",
                "io.scan_s", "io.scan_bytes", "io.task_commit_s", "io.job_commit_s",
                "io.files_written", "io.bytes_written", "exports.bytes_out",
                "chunking.chunks_out", "dedup.python_run_s",
                "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.shuffle_read_bytes",
                "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.stages",
                "spark.tasks", "spark.task_skew", "spark.idle_core_s",
            )},
            "exports.call_s": calls_s.get("with_exports", 0.0),
            "chunking.call_s": calls_s.get("chunk_spans", 0.0),
            "components.checkpoint_rdds": len(checkpoint_dirs) / len(timed),
            "components.checkpoint_jobs": med.get("components.checkpoint_jobs", 0),
            **{f"self.{k}_s": v for k, v in self_s.items()
               if k not in (layers.DRIVER, "pipeline.antijoin")},
            "self.sum_share": (sum(self_s.values()) - self_s["bench.gap"]) / wall,
            "trace.docs_per_s": traced_dps,
            "trace.untraced_docs_per_s": base_dps,
            "trace.overhead_share": overhead,
            "mem.jvm_rss_mb": jvm_rss_mb,
            "mem.python_pss_mb": python_pss_mb,
            "mem.jvm_heap_used_mb": heap_mb,
        }
        for key in PER_LAYER_COUNTERS:
            per_layer[key] = wl.counters.get(key, 0)
        per_layer.update(parser_timings(inputs))
        units = _per_layer_units()
        missing = set(units) - set(per_layer)
        if missing:
            raise RuntimeError(f"per-layer metrics not produced: {sorted(missing)}")
        report.append(
            "self-times along the blocking path (s, median pass): "
            + " ".join(f"{k}={v:.3f}" for k, v in sorted(self_s.items(), key=lambda x: -x[1]))
        )
        share = per_layer["self.sum_share"]
        report.append(
            f"layers sum to {share:.3f} of pass wall {wall:.3f}s "
            f"({'within' if abs(share - 1) <= 0.1 else 'NOT within'} 10%); "
            f"dominant layer: {dominant} ({self_s[dominant] / wall:.1%})"
        )
        report.append(
            f"tracing overhead: traced {traced_dps:.1f} docs/s vs {base_dps:.1f} docs/s "
            f"in the paired untraced run -> {overhead:+.1%}"
        )
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    record = {
        **result,
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host_cores": cores, "input": props, "passes_s": walls,
        "setup": {"session_s": session_s, "warm_pass_s": warm_s},
        "discontinuity": DISCONTINUITY, "report": report,
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(
        OUT, "results", f"{args.workload}-s{args.seed}-trace{args.trace}-{os.getpid()}.json"
    ), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    for line in report:
        print("# " + line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
