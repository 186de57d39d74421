"""HybridChunker fidelity contracts (pdf_processor.py:44-69): heading
context propagation, oversize-span splitting, whole-doc fallback."""

from pyspark.sql import functions as F

from docling_fast_server_spark.operators.chunking import chunk_spans


_SPANS_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def _doc(spark, doc_id, spans):
    rows = [
        (doc_id, [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(spans)
        ])
    ]
    return spark.createDataFrame(rows, _SPANS_DDL)


def test_heading_context_propagates(spark):
    df = _doc(
        spark,
        "d1",
        [
            ("section_header", "INTRO", None),
            ("text", "one two three", None),
            ("section_header", "METHODS", None),
            ("text", "four five six", None),
        ],
    )
    chunks = {r["chunk_idx"]: r for r in chunk_spans(df, budget=5).collect()}
    # chunk 0 starts under INTRO; the chunk crossing METHODS starts there
    assert chunks[0]["heading"] == "INTRO"
    assert any(r["heading"] == "METHODS" for r in chunks.values())


def test_oversize_span_splits(spark):
    long_text = " ".join(f"w{i}" for i in range(23))
    df = _doc(spark, "d1", [("text", long_text, None)])
    rows = sorted(chunk_spans(df, budget=8).collect(), key=lambda r: r["chunk_idx"])
    # 23 tokens / budget 8 -> chunks of 8, 8, 7
    assert [r["n_tokens"] for r in rows] == [8, 8, 7]
    assert " ".join(r["chunk_text"] for r in rows) == long_text
    # all three chunks reference the single source span
    assert all(r["n_spans"] == 1 for r in rows)


def test_whole_doc_fallback_on_empty_spans(spark):
    df = _doc(spark, "failed-doc", [])
    rows = chunk_spans(df, budget=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["chunk_idx"], r["heading"], r["chunk_text"]) == (
        "failed-doc", 0, "", "",
    )
    assert (r["n_tokens"], r["n_spans"]) == (0, 0)


def test_media_spans_kept_but_textless(spark):
    df = _doc(
        spark,
        "d1",
        [
            ("text", "a b", None),
            ("picture", None, "media://1/img/0"),
            ("text", "c d", None),
        ],
    )
    rows = chunk_spans(df, budget=40).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_text"] == "a b c d"
    assert rows[0]["n_spans"] == 3
    assert rows[0]["n_tokens"] == 4


def test_offsets_unique_per_doc(spark, sf_dir):
    """Extraction-boundary contract the chunker's in-array piece order
    depends on: span offsets are unique within a document (they are the
    dense span index by construction; a duplicate would make chunk
    piece order nondeterministic and undercount n_spans)."""
    from pyspark.sql import functions as F

    from docling_fast_server_spark.queries import extract_all

    ex = extract_all(spark, sf_dir).select("doc_id", F.explode("spans").alias("s"))
    dup = (
        ex.groupBy("doc_id", F.col("s.offset").alias("offset"))
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def _model_chunks(spans, B, tokenizer="ws"):
    """Independent Python model of the chunker contract (the row-window
    formulation the oracle uses): running heading (a section_header with
    NULL text keeps the previous one), piece explosion with actual
    cumulative token counts, floor(cum/B) chunk assignment."""
    import re

    from docling_fast_server_spark.operators.textstats import BPE_RE

    def toks(t):
        if tokenizer == "ws":
            return t.split(" ")
        return re.findall(BPE_RE, t)

    spans = sorted(spans, key=lambda s: s["offset"])
    heading, cum, pieces = "", 0, []
    for s in spans:
        if s["kind"] == "section_header" and s["text"] is not None:
            heading = s["text"]
        tk = [] if s["text"] is None else toks(s["text"])
        n = 0 if s["text"] is None else len(tk)
        for p in range(max(-(-n // B), 1)):
            ptext = None if s["text"] is None else " ".join(tk[p * B : (p + 1) * B])
            ptok = 0 if s["text"] is None else min(B, n - p * B)
            pieces.append((cum // B, heading, s["offset"], ptext, ptok))
            cum += ptok
    if not pieces:
        return [(0, "", "", 0, 0)]
    chunks = {}
    for ci, h, off, ptext, ptok in pieces:
        chunks.setdefault(ci, []).append((h, off, ptext, ptok))
    return [
        (
            ci,
            mem[0][0],
            " ".join(t for _, _, t, _ in mem if t is not None),
            sum(pt for _, _, _, pt in mem),
            len({o for _, o, _, _ in mem}),
        )
        for ci, mem in sorted(chunks.items())
    ]


def test_chunker_matches_model_on_arbitrary_spans(spark):
    """The within-array HOF chunker vs an independent Python model on
    adversarial span soups: empty docs, media-only docs, empty-string
    texts, budget-boundary totals, shuffled offsets, headers anywhere."""
    import random

    rng = random.Random(20260816)
    words = ["aa", "b", "ccc", "dd", ""]
    docs = []
    for doc_i in range(40):
        n_spans = rng.randrange(0, 9)
        offsets = rng.sample(range(100), n_spans)
        spans = []
        for off in offsets:
            kind = rng.choice(["text", "text", "section_header", "picture"])
            if kind == "picture":
                spans.append({"kind": kind, "text": None, "media_ref": f"m{off}", "offset": off})
            else:
                txt = " ".join(rng.choice(words) for _ in range(rng.randrange(0, 12)))
                spans.append({"kind": kind, "text": txt, "media_ref": None, "offset": off})
        docs.append((f"d{doc_i}", spans))

    _assert_matches_model(spark.createDataFrame(docs, _SPANS_DDL), docs)


def _assert_matches_model(df, docs):
    """chunk_spans(df) equals _model_chunks for every (doc_id, spans) in
    `docs`, under both tokenizers."""
    for B, tokenizer in ((3, "ws"), (5, "bpe")):
        got = {}
        for r in chunk_spans(df, budget=B, tokenizer=tokenizer).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["heading"], r["chunk_text"], r["n_tokens"], r["n_spans"])
            )
        for doc_id, spans in docs:
            have, want = sorted(got.get(doc_id, [])), sorted(_model_chunks(spans, B, tokenizer))
            diff = next((i for i, (a, b) in enumerate(zip(have, want)) if a != b), None)
            assert have == want, (
                tokenizer, doc_id, len(spans), len(have), len(want),
                diff, diff is not None and (have[diff], want[diff]),
                spans if len(spans) <= 8 else "...",
            )


def _scan_depth_spans(rng, n, case):
    """`n` spans in shuffled offset order. `case` places the headings:
    "first" opens with a header, "none" has no header at all, "null"
    opens with a NULL-text header and gives half the other headers NULL
    text."""
    words = ["aa", "b", "c.d", "e,f", "", "gg"]
    spans = []
    for off in rng.sample(range(n), n):
        kind = rng.choice(["text", "text", "section_header", "picture"])
        if case == "none" and kind == "section_header":
            kind = "text"
        if case != "none" and off == 0:
            kind = "section_header"
        if kind == "picture":
            text = None
        elif kind == "section_header" and case == "null" and (off == 0 or rng.random() < 0.5):
            text = None
        else:
            text = " ".join(rng.choice(words) for _ in range(rng.randrange(0, 12)))
        spans.append({"kind": kind, "text": text, "media_ref": None, "offset": off})
    return spans


def test_chunker_matches_model_at_scan_depths(spark):
    """The log-step prefix scan against the model on both sides of every
    stride it takes (1, 2, 4, ... 256), at exactly MAX_SPANS_PER_DOC
    spans, and on one span of 20k tokens (one long piece run): headers
    first, absent, or with NULL text; both tokenizers."""
    import random

    from docling_fast_server_spark.model import MAX_SPANS_PER_DOC

    rng = random.Random(20261017)
    docs = [
        (f"n{n}-{case}", _scan_depth_spans(rng, n, case))
        for n in (1, 2, 3, 4, 5, 8, 9, 16, 17, 255, 256, 257)
        for case in ("first", "none", "null")
    ]
    docs.append(("max", _scan_depth_spans(rng, MAX_SPANS_PER_DOC, "null")))
    long_text = " ".join(f"w{i}" if i % 7 else "x,y" for i in range(20_000))
    long_span = {"kind": "text", "text": long_text, "media_ref": None, "offset": 0}
    docs.append(("long-span", [long_span]))
    assert len(docs[-2][1]) == MAX_SPANS_PER_DOC
    _assert_matches_model(spark.createDataFrame(docs, _SPANS_DDL), docs)


def test_big_doc_completes_via_window_route(spark):
    """A stored document past model.MAX_SPANS_PER_DOC (25k spans) fails
    the chunk job loudly, naming the document, its span count and the
    ceiling, the extraction envelope that also bounds the prefix scan.
    There is no longer a row-window route for it to complete through;
    the test keeps its name and pins the replacement contract. Building
    the chunk frame itself runs no Spark job."""
    import pytest

    from docling_fast_server_spark.model import MAX_SPANS_PER_DOC

    n = 25_000
    assert n > MAX_SPANS_PER_DOC
    spans = [
        {"kind": "text", "text": f"a{i} b{i}", "media_ref": None, "offset": i}
        for i in range(n)
    ]
    df = spark.createDataFrame([("d-big", spans)], _SPANS_DDL)
    sc = spark.sparkContext
    sc.setJobGroup("chunk-build", "chunk_spans frame construction")
    try:
        chunks = chunk_spans(df, budget=40)
        assert list(sc.statusTracker().getJobIdsForGroup("chunk-build")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    with pytest.raises(Exception, match=f"d-big has {n} spans.*{MAX_SPANS_PER_DOC}"):
        chunks.collect()


def test_tok_sql_escapes_the_pattern_literal(spark, monkeypatch):
    """A BPE pattern holding a backslash and a quote reaches Spark's
    regex engine unmangled: the Spark tokens equal re.findall of the
    same pattern on a sample string."""
    import re

    from docling_fast_server_spark.operators import textstats
    from docling_fast_server_spark.operators.chunking import _tok_sql

    pat = r"[A-Za-z]+'[A-Za-z]+|[A-Za-z0-9]+|\.|\\|'"
    monkeypatch.setattr(textstats, "BPE_RE", pat)
    sample = "don't stop. it's a\\b 'x' 42"
    got = spark.createDataFrame([(sample,)], "t string").selectExpr(
        f"{_tok_sql('t', 'bpe')} AS k"
    ).first()["k"]
    assert got == re.findall(pat, sample)
    assert "\\" in got and "'" in got


def test_extraction_boundary_enforces_span_ceiling():
    """Kernels degrade a doc beyond MAX_SPANS_PER_DOC to failed (pure
    Python check — no Spark)."""
    import json

    import pytest

    from docling_fast_server_spark.model import MAX_SPANS_PER_DOC
    from docling_fast_server_spark.operators.html_extract import extract_html_document
    from docling_fast_server_spark.operators.pdf_layout import extract_pdf_cells_flat

    html = "<html><body>" + "<p>word</p>" * (MAX_SPANS_PER_DOC + 1) + "</body></html>"
    with pytest.raises(ValueError, match="span ceiling"):
        extract_html_document("doc-000000", html)

    m = MAX_SPANS_PER_DOC + 1
    prov = json.dumps({"p": 1, "l": 72.0, "t": 700.0, "r": 292.0, "b": 684.0, "fs": 11.0, "text": "w"})
    with pytest.raises(ValueError, match="span ceiling"):
        extract_pdf_cells_flat(["pdf_cell"] * m, [prov] * m, [None] * m, 0, m)
