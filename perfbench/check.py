"""Untimed oracle checks of one run's outputs, in DuckDB.

Every expected value comes from the repository's DuckDB oracle SQL over
the generated ``documents`` table, never from the program's own code:

- spans: ``oracle.expected_spans_sql`` plus the expected conversion
  method (``limited`` for a degraded id with a media slot, ``failed``
  with no spans for an injected broken document);
- exports: ``queries.ORACLE_EXPORT_*``;
- chunks: ``queries._oracle_chunks`` at the budget the pass used;
- dedup: ``minhash_ctes_sql`` + ``MINHASH_PAIRS_FINAL_SQL`` for the
  pairs and the bucket diagnostics, and a recursive connected-components
  pass for the clusters.

Each check returns the set of document ids whose output is wrong plus a
list of failed aggregate checks; a document counts once however many of
its outputs differ.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from docling_fast_server_spark.corpus import (
    DEGRADED_MOD,
    PARA_WORDS,
    PIC_MOD,
    TBL_MOD,
    TBL_REM,
)
from docling_fast_server_spark.operators.dedup import (
    MINHASH_BUCKET_CAP,
    MINHASH_PAIRS_FINAL_SQL,
    minhash_ctes_sql,
)
from docling_fast_server_spark.oracle import MAX_PARAS, expected_spans_sql
from docling_fast_server_spark.queries import (
    ORACLE_EXPORT_DOCTAGS,
    ORACLE_EXPORT_HTML,
    ORACLE_EXPORT_JSON,
    ORACLE_EXPORT_MARKDOWN,
    _oracle_chunks,
)

_ID = "'doc-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')"

# what a document whose extraction failed renders to: no spans, so empty
# serializations and the chunker's single empty fallback chunk
_FAILED_EXPORTS = {"markdown": "", "html": "", "doctags": "", "doc_json": "[]"}


def connect(documents: pa.Table, broken_ids: list[int]) -> duckdb.DuckDBPyConnection:
    """A connection where ``documents`` holds the documents expected to
    extract (broken ones removed, as the oracle SQL reads that name) and
    ``expected_method`` the conversion method of every document."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.register("documents_all", documents)
    con.register("broken", pa.table({"doc_id": pa.array(broken_ids, type=pa.int64())}))
    con.execute(
        "CREATE TEMP TABLE docs_ok AS SELECT * FROM documents_all "
        "WHERE doc_id NOT IN (SELECT doc_id FROM broken)"
    )
    con.execute("CREATE TEMP VIEW documents AS SELECT * FROM docs_ok")
    con.execute(f"""
        CREATE TEMP TABLE expected_method AS
        WITH d AS (
          SELECT doc_id, (len(string_split(text, ' ')) + {PARA_WORDS - 1}) // {PARA_WORDS} AS np,
                 doc_id IN (SELECT doc_id FROM broken) AS broken
          FROM documents_all
        ),
        m AS (
          SELECT d.doc_id, d.broken,
                 bool_or((d.doc_id + i) % {PIC_MOD} = 0
                         OR (d.doc_id + i) % {TBL_MOD} = {TBL_REM}) AS has_media
          FROM d, unnest(range({MAX_PARAS})) AS u(i)
          WHERE u.i < d.np
          GROUP BY d.doc_id, d.broken
        )
        SELECT {_ID} AS doc_id, broken,
               CASE WHEN broken THEN 'failed'
                    WHEN doc_id % 2 = 1 AND doc_id % {DEGRADED_MOD} = 0 AND has_media
                    THEN 'limited' ELSE 'default' END AS method
        FROM m
    """)
    return con


def _ids(con, sql: str) -> set[str]:
    return {r[0] for r in con.execute(sql).fetchall()}


def extraction_errors(con, got: pa.Table) -> set[str]:
    """Documents whose committed row is missing, duplicated, unexpected,
    has the wrong conversion method or differs from the oracle's spans.
    ``got``: (doc_id, spans, conversion_method) as committed."""
    con.register("got", got)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE exp_spans AS
        SELECT doc_id,
               list(struct_pack(kind := kind, text := text, media_ref := media_ref,
                                "offset" := "offset") ORDER BY "offset") AS spans
        FROM ({expected_spans_sql("all")}) GROUP BY doc_id
    """)
    bad = _ids(con, """
        SELECT m.doc_id FROM expected_method m
        LEFT JOIN got g USING (doc_id)
        LEFT JOIN exp_spans e USING (doc_id)
        WHERE g.doc_id IS NULL
           OR g.conversion_method IS DISTINCT FROM m.method
           OR CASE WHEN m.broken THEN len(g.spans) <> 0
                   ELSE g.spans IS DISTINCT FROM e.spans END
        UNION
        SELECT doc_id FROM got GROUP BY doc_id HAVING count(*) > 1
        UNION
        SELECT doc_id FROM got WHERE doc_id NOT IN (SELECT doc_id FROM expected_method)
    """)
    con.unregister("got")
    return bad


def export_errors(con, got: pa.Table) -> set[str]:
    """Documents whose four serializations differ from the oracle's.
    ``got``: (doc_id, markdown, html, doctags, doc_json)."""
    con.register("got_exports", got)
    cols = list(_FAILED_EXPORTS)
    oracles = {
        "markdown": ORACLE_EXPORT_MARKDOWN,
        "html": ORACLE_EXPORT_HTML,
        "doctags": ORACLE_EXPORT_DOCTAGS,
        "doc_json": ORACLE_EXPORT_JSON,
    }
    joins = "\n".join(
        f"LEFT JOIN ({oracles[c]}) AS o_{c} USING (doc_id)" for c in cols
    )
    differs = " OR ".join(
        f"g.{c} IS DISTINCT FROM (CASE WHEN m.broken THEN '{v}' ELSE o_{c}.{c} END)"
        for c, v in _FAILED_EXPORTS.items()
    )
    bad = _ids(con, f"""
        SELECT m.doc_id FROM expected_method m
        LEFT JOIN got_exports g USING (doc_id)
        {joins}
        WHERE g.doc_id IS NULL OR {differs}
        UNION
        SELECT doc_id FROM got_exports GROUP BY doc_id HAVING count(*) > 1
    """)
    con.unregister("got_exports")
    return bad


def chunk_errors(con, got: pa.Table, budget: int) -> set[str]:
    """Documents whose chunk rows differ from the oracle's at ``budget``
    whitespace tokens. ``got``: (doc_id, chunk_idx, heading, chunk_text,
    n_tokens, n_spans)."""
    con.register("got_chunks", got)
    row = "struct_pack(i := chunk_idx, h := heading, t := chunk_text, n := n_tokens, s := n_spans)"
    bad = _ids(con, f"""
        WITH exp AS (
          SELECT doc_id, list({row} ORDER BY chunk_idx) AS rows
          FROM ({_oracle_chunks(budget, "string_split(text, ' ')")}) GROUP BY doc_id
        ),
        g AS (
          SELECT doc_id, list({row} ORDER BY chunk_idx) AS rows
          FROM got_chunks GROUP BY doc_id
        )
        SELECT m.doc_id FROM expected_method m
        LEFT JOIN g USING (doc_id) LEFT JOIN exp e USING (doc_id)
        WHERE g.rows IS DISTINCT FROM (
          CASE WHEN m.broken
               THEN [struct_pack(i := 0, h := '', t := '', n := CAST(0 AS BIGINT),
                                 s := CAST(0 AS BIGINT))]
               ELSE e.rows END)
    """)
    con.unregister("got_chunks")
    return bad


def dedup_expected(corpus: pa.Table) -> dict:
    """Oracle outputs of ``run_dedup`` over ``corpus`` (doc_id, text):
    the verified pairs, each document's component, the metrics row
    values ``run_dedup`` appends, and the largest LSH bucket the cap
    keeps."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.register("corpus_in", corpus)
    head = f"WITH corpus AS (SELECT doc_id, text FROM corpus_in), {minhash_ctes_sql()}"
    con.execute(f"CREATE TEMP TABLE pairs_exp AS {head} {MINHASH_PAIRS_FINAL_SQL}")
    trip = con.execute(f"""{head}
        SELECT coalesce(sum(n) FILTER (WHERE n > {MINHASH_BUCKET_CAP}), 0),
               count(*) FILTER (WHERE n > {MINHASH_BUCKET_CAP}),
               coalesce(max(n), 0),
               coalesce(max(n) FILTER (WHERE n <= {MINHASH_BUCKET_CAP}), 0)
        FROM (SELECT band, key, count(*) AS n FROM bands GROUP BY band, key)
    """).fetchone()
    con.execute("""
        CREATE TEMP TABLE labels AS
        WITH RECURSIVE sym AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs_exp
          UNION SELECT doc_b, doc_a FROM pairs_exp
        ),
        cc(node, lbl) AS (
          SELECT DISTINCT u, u FROM sym
          UNION SELECT s.v, cc.lbl FROM cc JOIN sym s ON s.u = cc.node
        ),
        comp AS (SELECT node, min(lbl) AS component FROM cc GROUP BY node)
        SELECT c.doc_id, coalesce(p.component, c.doc_id) AS component
        FROM corpus_in c LEFT JOIN comp p ON p.node = c.doc_id
    """)
    stats = con.execute("""
        SELECT count(*), count(*) FILTER (WHERE doc_id = component),
               (SELECT max(n) FROM (SELECT count(*) AS n FROM labels GROUP BY component))
        FROM labels
    """).fetchone()
    out = {
        "largest_kept_bucket": int(trip[3]),
        "pairs": {
            (a, b, round(j, 4))
            for a, b, j in con.execute("SELECT doc_a, doc_b, jaccard FROM pairs_exp").fetchall()
        },
        "survivors": _ids(con, "SELECT doc_id FROM labels WHERE doc_id = component"),
        "metrics": {
            "suppressed_members": int(trip[0]),
            "over_cap_buckets": int(trip[1]),
            "max_bucket": int(trip[2]),
            "n_docs": int(stats[0]),
            "n_clusters": int(stats[1]),
            "n_dropped": int(stats[0] - stats[1]),
            "max_cluster_size": int(stats[2]),
        },
    }
    con.close()
    return out


def dedup_errors(
    expected: dict, survivors: set[str], metrics: dict, pairs: set[tuple] | None
) -> tuple[set[str], list[str]]:
    """(documents with a wrong survivor flag or in a wrong pair, names of
    metrics that differ from the oracle) for one ``run_dedup`` pass.
    ``pairs`` is None when the pass's pairs were not collected."""
    bad = set(survivors ^ expected["survivors"])
    if pairs is not None:
        for a, b, _ in pairs ^ expected["pairs"]:
            bad.update((a, b))
    wrong = [k for k, v in expected["metrics"].items() if metrics.get(k) != v]
    return bad, wrong
