"""Hybrid chunking — token-budget segmentation over ordered spans, with
heading-context propagation, oversize-span splitting, and a whole-doc
fallback row.

The reference chunks each converted document with docling's HybridChunker
(/root/reference/src/services/pdf_processor.py:36-69: lazy init, chunk,
error-fallback to one whole-document chunk; the placeholder route
src/routes/placeholder.py:12-15 confirms chunking is a standalone op).
HybridChunker is tokenizer-aware, carries section context into each chunk,
and splits items larger than the budget; this operator re-expresses each
of those contracts relationally:

- heading context: every span carries the most recent section_header at
  or before it; a chunk reports the heading active at its first piece.
- oversize splitting: a span with more tokens than the budget explodes
  into ceil(n_tok/budget) pieces of at most `budget` tokens each, so no
  chunk is ever forced past the budget by a single long span.
- whole-doc fallback: a document that yields no chunkable pieces (e.g.
  failed extraction with an empty spans array) still emits exactly one
  empty chunk row — a document is never silently dropped by the chunker
  (the except-branch of pdf_processor.py:60-69).

All pure DataFrame code with ZERO exchanges: spans arrive as one
ordered array per document, so heading propagation, piece explosion,
the running token budget and the chunk grouping are all higher-order
functions within that array — extract -> chunk (or scan -> chunk over a
stored table) is a single narrow stage (plan-asserted). Exactly
reproducible in ANSI SQL (oracle in queries.py, which uses the
equivalent row-window formulation).

Span ceiling: the in-array prefix fold is quadratic in a document's span
count, so a document with more than model.MAX_SPANS_PER_DOC spans fails
the chunk job LOUDLY (raise_error naming the doc_id, its span count and
the ceiling) instead of becoming a minutes-long single-task straggler.
Every extraction kernel already degrades such a document to `failed`
with no spans, so only hand-built or foreign stored tables can hit it.
The check sits inside the first projection: it costs no extra Spark job
and never runs the fold on an oversized document.

Media spans (text IS NULL) contribute zero tokens and are excluded from
chunk text but counted in n_spans, mirroring HybridChunker's text-only
token budget with preserved item references.
"""

from __future__ import annotations

from ..model import MAX_SPANS_PER_DOC

DEFAULT_BUDGET = 40  # tokens per chunk


def _tok_sql(col: str, tokenizer: str) -> str:
    """The token array the budget counts, as a SQL expression: whitespace
    words ("ws", the HybridChunker default proxy) or the BPE-ish
    pre-tokenization ("bpe": alnum runs + per-punctuation tokens,
    textstats.BPE_RE) — the tokenizer-aware budget of the reference's
    HybridChunker (pdf_processor.py:44-58 budgets real tokenizer
    tokens). Both are narrow JVM-side expressions with exact DuckDB
    analogs."""
    if tokenizer == "ws":
        return f"split({col}, ' ')"
    if tokenizer == "bpe":
        from .textstats import BPE_RE

        return f"regexp_extract_all({col}, '{BPE_RE}', 0)"
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def chunk_spans(df, budget: int = DEFAULT_BUDGET, tokenizer: str = "ws"):
    """DataFrame(doc_id, spans, ...) -> DataFrame(doc_id, chunk_idx,
    heading, chunk_text, n_tokens, n_spans).

    ZERO-SHUFFLE chunker: the spans already arrive as one ordered array
    per document, so heading propagation, piece explosion, the running
    token count and the chunk grouping are all computed WITHIN that
    array by higher-order functions — no Window, no groupBy, no
    Exchange of any kind. The three selects below are SQL strings parsed
    JVM-side in one call each (a Column-API build of the same trees cost
    ~150 py4j round-trips, ~0.3 s of driver latency per call).

    The fold carries (current heading, running token total, items); a
    piece p of a span whose earlier spans total C tokens lands in chunk
    floor((C + p*budget)/budget) — identical to the oracle's row-window
    cumulative-sum definition because every non-final piece holds
    exactly `budget` tokens. Chunk indices are contiguous from 0, so
    chunks are materialized by filtering the piece array per index
    (pieces stay in (offset, piece_i) order: the first member is the
    piece whose heading the chunk reports). A section_header with NULL
    text keeps the previous heading (the oracle's IGNORE NULLS).

    Ordering contract: relies on per-document offset UNIQUENESS, which
    the extraction kernels guarantee (offsets are the dense span index)
    and test_chunking.test_offsets_unique_per_doc asserts.

    Per-document cost is O(spans^2) struct copies (the prefix fold
    rebuilds its items array per span) + O(pieces x chunks) scans — tens
    of ms at 10^4 spans, minutes at 10^5. A document with more than
    model.MAX_SPANS_PER_DOC spans therefore fails the job with a
    USER_RAISED_EXCEPTION naming it (see the module docstring)."""
    B = budget

    def ntok(s: str) -> str:
        return (
            f"CASE WHEN {s}.text IS NULL THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(size({_tok_sql(f'{s}.text', tokenizer)}) AS BIGINT) END"
        )

    items_t = (
        "array<struct<offset:int,heading:string,n_tok:bigint,"
        "text:string,cum_before:bigint>>"
    )
    init = (
        "struct(CAST('' AS STRING) AS heading, CAST(0 AS BIGINT) AS cum, "
        f"CAST(array() AS {items_t}) AS items)"
    )
    heading = (
        "CASE WHEN s.kind = 'section_header' AND s.text IS NOT NULL "
        "THEN s.text ELSE acc.heading END"
    )
    merge = (
        f"struct({heading} AS heading, (acc.cum + {ntok('s')}) AS cum, "
        f"concat(acc.items, array(struct(s.offset AS offset, {heading} AS heading, "
        f"{ntok('s')} AS n_tok, s.text AS text, acc.cum AS cum_before))) AS items)"
    )
    fold = (
        "aggregate(array_sort(spans, (a, b) -> a.offset - b.offset), "
        f"{init}, (acc, s) -> {merge})"
    )
    too_big = (
        "raise_error(format_string('chunk_spans: document %s has %d spans, over "
        f"the MAX_SPANS_PER_DOC ceiling of {MAX_SPANS_PER_DOC}', doc_id, size(spans)))"
    )
    enr = (
        f"CASE WHEN size(spans) > {MAX_SPANS_PER_DOC} THEN {too_big} "
        f"ELSE {fold} END AS enr"
    )
    d = df.selectExpr("doc_id", enr)

    p_text = (
        "CASE WHEN it.text IS NULL THEN CAST(NULL AS STRING) ELSE "
        f"array_join(slice({_tok_sql('it.text', tokenizer)}, "
        f"CAST(p * {B} + 1 AS INT), {B}), ' ') END"
    )
    p_tok = (
        "CASE WHEN it.text IS NULL THEN CAST(0 AS BIGINT) ELSE "
        f"least(CAST({B} AS BIGINT), it.n_tok - p * {B}) END"
    )
    piece_rows = (
        f"transform(sequence(CAST(0 AS BIGINT), "
        f"greatest(CEIL(it.n_tok / {B}), CAST(1 AS BIGINT)) - 1), "
        f"p -> struct(CAST(FLOOR((it.cum_before + p * {B}) / {B}) AS BIGINT) "
        f"AS chunk_idx, it.offset AS offset, it.heading AS heading, "
        f"{p_text} AS p_text, {p_tok} AS p_tok))"
    )
    d = d.selectExpr(
        "doc_id", f"flatten(transform(enr.items, it -> {piece_rows})) AS pieces"
    )

    mem = "filter(pieces, x -> x.chunk_idx = ci)"
    chunk_of = (
        f"struct(CAST(ci AS INT) AS chunk_idx, "
        f"element_at({mem}, 1).heading AS heading, "
        f"array_join(transform(filter({mem}, m -> m.p_text IS NOT NULL), "
        f"m -> m.p_text), ' ') AS chunk_text, "
        f"aggregate({mem}, CAST(0 AS BIGINT), (a, m) -> a + m.p_tok) AS n_tokens, "
        f"CAST(size(array_distinct(transform({mem}, m -> m.offset))) AS BIGINT) "
        f"AS n_spans)"
    )
    # the highest chunk actually opened by a piece — NOT floor((total-1)/B):
    # a trailing zero-token media piece at an exact budget boundary opens
    # one more (empty-text) chunk, exactly as the oracle's row-windowed
    # cumulative sum does. Indices below it are all non-empty (consecutive
    # pieces' cum_before differ by at most B).
    max_idx = (
        "coalesce(array_max(transform(pieces, x -> x.chunk_idx)), CAST(0 AS BIGINT))"
    )
    fallback = (
        "array(struct(CAST(0 AS INT) AS chunk_idx, '' AS heading, "
        "'' AS chunk_text, CAST(0 AS BIGINT) AS n_tokens, "
        "CAST(0 AS BIGINT) AS n_spans))"
    )
    chunks = (
        f"CASE WHEN coalesce(size(pieces), 0) = 0 THEN {fallback} "
        f"ELSE transform(sequence(CAST(0 AS BIGINT), {max_idx}), ci -> {chunk_of}) END"
    )
    return d.selectExpr("doc_id", f"explode({chunks}) AS c").selectExpr(
        "doc_id",
        "c.chunk_idx AS chunk_idx",
        "c.heading AS heading",
        "c.chunk_text AS chunk_text",
        "c.n_tokens AS n_tokens",
        "c.n_spans AS n_spans",
    )
