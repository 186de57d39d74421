"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

from docling_fast_server_spark.corpus import expected_spans, is_degraded  # noqa: E402
from docling_fast_server_spark.model import SPAN_STRUCT, doc_id_str  # noqa: E402


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_input_hash(workload):
    a = gen.properties(gen.make_inputs(workload, 5))
    b = gen.properties(gen.make_inputs(workload, 5))
    c = gen.properties(gen.make_inputs(workload, 6))
    assert a == b
    assert a["input_hash"] != c["input_hash"]


def test_input_properties_match_the_workload_design():
    conv = gen.properties(gen.make_inputs("convert", 1))
    assert abs(conv["pdf_share"] - 0.5) < 0.01
    assert conv["broken_share"] > 0 and conv["degraded_share"] > 0
    assert conv["words_max"] <= gen.MAX_WORDS
    resume = gen.properties(gen.make_inputs("resume", 1))
    assert abs(resume["committed_share"] - gen.COMMITTED_SHARE) < 0.01
    inputs = gen.make_inputs("dedup", 1)
    dedup = gen.properties(inputs)
    assert len(inputs["groups"]["template"]) > gen.MINHASH_BUCKET_CAP
    assert dedup["near_dup_share"] >= gen.NEAR_DUP_SHARE
    ids = inputs["documents"].column("doc_id").to_pylist()
    assert len(ids) == len(set(ids))


def _small_convert(n: int = 80):
    inputs = gen.make_inputs("convert", 3)
    docs = inputs["documents"].slice(0, n)
    ids = docs.column("doc_id").to_pylist()
    broken = [d for d in inputs["broken_ids"] if d in ids] or [next(d for d in ids if d % 2)]
    return docs, broken


def _perfect_output(docs: pa.Table, broken: list[int]) -> list[dict]:
    """What a correct run commits for ``docs``, from the corpus spec."""
    rows = []
    for d, text in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        if d in broken:
            rows.append({"doc_id": doc_id_str(d), "spans": [], "conversion_method": "failed"})
            continue
        spans = expected_spans(d, text)
        limited = is_degraded(d) and gen._has_media_slot(d, text.count(" ") + 1)
        rows.append({
            "doc_id": doc_id_str(d),
            "spans": spans,
            "conversion_method": "limited" if limited else "default",
        })
    return rows


def _table(rows: list[dict]) -> pa.Table:
    from pyspark.sql.pandas.types import to_arrow_type

    span_t = to_arrow_type(SPAN_STRUCT)
    return pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows]),
        "spans": pa.array([r["spans"] for r in rows], type=pa.list_(span_t)),
        "conversion_method": pa.array([r["conversion_method"] for r in rows]),
    })


def test_oracle_check_accepts_correct_output_and_catches_one_altered_span():
    docs, broken = _small_convert()
    rows = _perfect_output(docs, broken)
    con = check.connect(docs, broken)
    assert check.extraction_errors(con, _table(rows)) == set()

    victim = next(r for r in rows if r["spans"])
    victim["spans"][1] = {**victim["spans"][1], "text": victim["spans"][1]["text"] + "x"}
    assert check.extraction_errors(con, _table(rows)) == {victim["doc_id"]}


def test_oracle_check_catches_missing_and_unfailed_broken_docs():
    docs, broken = _small_convert()
    rows = _perfect_output(docs, broken)
    con = check.connect(docs, broken)
    dropped = rows.pop(0)["doc_id"]
    bid = doc_id_str(broken[0])
    for r in rows:
        if r["doc_id"] == bid:
            r["conversion_method"] = "default"
    assert check.extraction_errors(con, _table(rows)) == {dropped, bid}


def test_self_times_partition_the_call():
    stages = [
        (1.0, 3.0, "io"),
        (2.0, 5.0, "dispatch"),
        (4.5, 6.0, "lineage"),
    ]
    out = layers.self_times((0.0, 8.0), stages)
    assert out == pytest.approx({
        layers.DRIVER: 1.0 + 2.0,  # before the first stage, after the last
        "io": 1.0,
        "dispatch": 3.0,  # outranks io and lineage where they overlap
        "lineage": 1.0,
    })
    assert sum(out.values()) == pytest.approx(8.0)


def test_pass_layers_self_times_add_up_to_the_calls():
    log = layers.EventLog.__new__(layers.EventLog)
    log.jobs = {
        0: {"start": 10.2, "end": 12.0, "desc": "w.run_extraction", "exec": 0, "callsite": "parquet at x"},
        1: {"start": 12.5, "end": 13.0, "desc": "w.run_extraction", "exec": 1, "callsite": "parquet at x"},
        2: {"start": 14.1, "end": 14.9, "desc": "w.with_exports", "exec": 2, "callsite": "parquet at x"},
    }

    def stage(job, start, end, scopes):
        st = layers.EventLog._new_stage()
        st.update(job=job, start=start, end=end, scopes=set(scopes), run_ms=[100, 300, 200])
        return st

    log.stages = {
        0: stage(0, 10.2, 11.0, ["Exchange", "Scan parquet "]),
        1: stage(0, 11.0, 12.0, ["MapInArrow", "WriteFiles"]),
        2: stage(1, 12.5, 13.0, ["HashAggregate", "WriteFiles"]),
        3: stage(2, 14.1, 14.9, ["WriteFiles"]),
    }
    log.execs = {
        0: {"plan": "MapInArrow", "info": None, "metrics": Counter()},
        1: {"plan": "InsertIntoHadoopFsRelationCommand file:/t/lin/.stage", "info": None, "metrics": Counter()},
        2: {"plan": "", "info": None, "metrics": Counter()},
    }
    calls = [
        {"name": "run_extraction", "pass": 1, "start": 10.0, "end": 13.2},
        {"name": "with_exports", "pass": 1, "start": 14.0, "end": 15.0},
    ]
    out = layers.pass_layers(log, calls, {"resume": True, "lineage_path": "/t/lin"}, cores=4)
    selfs = {k: v for k, v in out.items() if k.startswith("self.")}
    assert sum(selfs.values()) == pytest.approx(3.2 + 1.0)
    assert out["self.pipeline.antijoin"] == pytest.approx(0.8)
    assert out["self.dispatch"] == pytest.approx(1.0)
    assert out["self.lineage"] == pytest.approx(0.5)
    assert out["self.exports"] == pytest.approx(0.8)
    assert out["pipeline.jobs"] == 3
    assert out["spark.task_s"] == pytest.approx(2.4)


def test_size_bands_follow_the_cited_shares_and_span_counts():
    # band edges in words land in the band's span range
    for _, lo, hi in gen.SIZE_BANDS:
        for spans in (lo, min(hi, 499)):
            words = round(spans * gen.WORDS_PER_SPAN)
            got = len(expected_spans(1001, " ".join(["alpha"] * words)))
            assert abs(got - spans) <= max(1, 0.1 * spans), (spans, words, got)
    import numpy as np

    sizes = gen._sizes(np.random.default_rng(0), 20_000)
    cuts = [round(s * gen.WORDS_PER_SPAN) for s in (10, 100)]
    small = (sizes <= cuts[0]).mean()
    large = (sizes == gen.MAX_WORDS).mean()
    assert abs(small - 0.80) < 0.02 and abs(large - 0.02) < 0.005
    assert abs(1 - small - large - 0.18) < 0.02


def test_memory_is_read_as_pss():
    import procstat

    assert procstat.pss_bytes(os.getpid()) > 0
    assert procstat.pss_bytes(2**22 + 1) == 0  # no such process
    assert not procstat.is_jvm(os.getpid())
