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

Span ceiling: model.MAX_SPANS_PER_DOC is the extraction envelope, and it
also fixes how many strides the log-step prefix scan may take. A
document with more spans fails the chunk job LOUDLY (raise_error naming
the doc_id, its span count and the ceiling) rather than being chunked
past the envelope the kernels enforce. Every extraction kernel already
degrades such a document to `failed` with no spans, so only hand-built
or foreign stored tables can hit it. The check sits inside the first
projection: it costs no extra Spark job and never sorts, tokenizes or
scans an oversized document.

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
    analogs. The pattern is escaped for Spark's string-literal parser
    (backslash and quote), so it reaches the regex engine unmangled."""
    if tokenizer == "ws":
        return f"split({col}, ' ')"
    if tokenizer == "bpe":
        from .textstats import BPE_RE

        lit = BPE_RE.replace("\\", "\\\\").replace("'", "\\'")
        return f"regexp_extract_all({col}, '{lit}', 0)"
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


# scan strides 1, 2, 4, ... below the span ceiling: 2^K is the largest
# power of two under MAX_SPANS_PER_DOC, so K+1 steps cover any document
_K = (MAX_SPANS_PER_DOC - 1).bit_length() - 1


def chunk_spans(df, budget: int = DEFAULT_BUDGET, tokenizer: str = "ws"):
    """DataFrame(doc_id, spans, ...) -> DataFrame(doc_id, chunk_idx,
    heading, chunk_text, n_tokens, n_spans).

    ZERO-SHUFFLE chunker: the spans already arrive as one ordered array
    per document, so heading propagation, piece explosion, the running
    token count and the chunk grouping are all computed WITHIN that
    array by higher-order functions — no Window, no groupBy, no
    Exchange of any kind. The selects below are SQL strings parsed
    JVM-side in one call each (a Column-API build of the same trees cost
    ~150 py4j round-trips, ~0.3 s of driver latency per call).
    Every array a later select reads inside a lambda is also passed
    through or read twice, so the optimizer keeps the selects as
    separate Projects instead of inlining (and re-evaluating) it per
    element.

    1. sort the spans by offset and tokenize each text ONCE into an
       array<array<string>> (`tk`);
    2. a log-step inclusive prefix scan (Hillis-Steele) over the
       strides 1, 2, 4, ... < size: `c` accumulates token totals, `h`
       the index of the last section_header with non-NULL text (-1
       before the first; a NULL-text header keeps the previous heading,
       the oracle's IGNORE NULLS). The accumulator is a lambda variable,
       so no step copies the span array;
    3. span i with earlier spans totalling e tokens explodes into one
       piece per `budget`-token slice, t = e, e+budget, ...; the piece
       lands in chunk floor(t/budget) — identical to the oracle's
       row-window cumulative-sum definition because every non-final
       piece holds exactly `budget` tokens. A piece holds only integers
       (chunk, span index, first token, token count);
    4. consecutive pieces' chunk indices differ by at most 1, so chunks
       are contiguous runs of the piece array: the positions where the
       index changes are the chunk starts and each chunk is one slice.
       A chunk reports the heading of its first piece's span, joins its
       pieces' slices of `tk` and counts the span-index range it covers.

    Ordering contract: relies on per-document offset UNIQUENESS, which
    the extraction kernels guarantee (offsets are the dense span index)
    and test_chunking.test_offsets_unique_per_doc asserts.

    Per-document cost is O(n log n) for the scan over n spans plus
    O(tokens + pieces) for tokenizing, slicing and grouping. A document
    with more than model.MAX_SPANS_PER_DOC spans fails the job with a
    USER_RAISED_EXCEPTION naming it (see the module docstring)."""
    B = budget

    too_big = (
        "raise_error(format_string('chunk_spans: document %s has %d spans, over "
        f"the MAX_SPANS_PER_DOC ceiling of {MAX_SPANS_PER_DOC}', doc_id, size(spans)))"
    )
    d = df.selectExpr(
        "doc_id",
        f"CASE WHEN size(spans) > {MAX_SPANS_PER_DOC} THEN {too_big} "
        "ELSE array_sort(spans, (a, b) -> a.offset - b.offset) END AS s",
    )
    d = d.selectExpr("doc_id", "s", f"transform(s, x -> {_tok_sql('x.text', tokenizer)}) AS tk")

    strides = (
        f"filter(transform(sequence(0, {_K}), k -> CAST(pow(2, k) AS INT)), "
        "d -> d < size(s))"
    )
    init = (
        "struct(transform(tk, t -> CASE WHEN t IS NULL THEN CAST(0 AS BIGINT) "
        "ELSE CAST(size(t) AS BIGINT) END) AS c, "
        "transform(s, (x, i) -> CASE WHEN x.kind = 'section_header' "
        "AND x.text IS NOT NULL THEN i ELSE -1 END) AS h)"
    )
    step = (
        "struct(transform(acc.c, (x, i) -> x + coalesce(get(acc.c, i - d), 0)) AS c, "
        "transform(acc.h, (x, i) -> greatest(x, get(acc.h, i - d))) AS h)"
    )
    d = d.selectExpr(
        "doc_id", "s", "tk", f"aggregate({strides}, {init}, (acc, d) -> {step}) AS sc"
    )

    # span i, inclusive total c, exclusive total e: one piece per slice
    # t = e, e+B, ... (a single piece when the span has no tokens)
    e = "coalesce(get(sc.c, i - 1), CAST(0 AS BIGINT))"
    piece_rows = (
        f"transform(sequence({e}, greatest(c - 1, {e}), CAST({B} AS BIGINT)), "
        f"t -> struct(t div {B} AS chunk_idx, i AS i, CAST(t - {e} AS INT) AS tok0, "
        f"least(CAST({B} AS BIGINT), c - t) AS p_tok))"
    )
    d = d.selectExpr(
        "doc_id", "s", "tk", "sc", f"flatten(transform(sc.c, (c, i) -> {piece_rows})) AS pieces"
    )

    # NULL when there are no pieces (empty or NULL spans): the fallback row
    d = d.selectExpr(
        "doc_id",
        "s",
        "tk",
        "sc",
        "pieces",
        "CASE WHEN size(pieces) > 0 THEN filter(sequence(1, size(pieces)), "
        "i -> i = 1 OR pieces[i - 1].chunk_idx <> pieces[i - 2].chunk_idx) END AS starts",
    )
    members = (
        "transform(starts, (st, j) -> slice(pieces, st, "
        "coalesce(get(starts, j + 1), size(pieces) + 1) - st))"
    )
    # a media piece's slice is NULL, and array_join skips NULLs; the spans
    # of a chunk are the contiguous index range of its first..last piece
    chunk_of = (
        "struct(CAST(m[0].chunk_idx AS INT) AS chunk_idx, "
        "coalesce(get(s, sc.h[m[0].i]).text, '') AS heading, "
        f"array_join(transform(m, q -> array_join(slice(tk[q.i], q.tok0 + 1, {B}), ' ')), ' ') "
        "AS chunk_text, "
        "aggregate(m, CAST(0 AS BIGINT), (a, q) -> a + q.p_tok) AS n_tokens, "
        "CAST(element_at(m, -1).i - m[0].i + 1 AS BIGINT) AS n_spans)"
    )
    fallback = (
        "array(struct(CAST(0 AS INT) AS chunk_idx, '' AS heading, "
        "'' AS chunk_text, CAST(0 AS BIGINT) AS n_tokens, "
        "CAST(0 AS BIGINT) AS n_spans))"
    )
    chunks = (
        f"CASE WHEN starts IS NULL THEN {fallback} "
        f"ELSE transform({members}, m -> {chunk_of}) END"
    )
    return d.selectExpr("doc_id", f"explode({chunks}) AS c").selectExpr(
        "doc_id",
        "c.chunk_idx AS chunk_idx",
        "c.heading AS heading",
        "c.chunk_text AS chunk_text",
        "c.n_tokens AS n_tokens",
        "c.n_spans AS n_spans",
    )
