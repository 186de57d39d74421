"""Seeded workload inputs for the batch benchmark.

Every workload is made from ``--seed`` alone: the same seed gives the
same ``documents`` table (``doc_id, text, lang, source, n_chars``), the
same injected-broken ids and the same pre-committed ids, byte for byte.
The program under test receives only that table, turned into raw spans
by ``corpus.docs_raw``; everything it must have done before a timed pass
(a committed table, an extracted corpus) it builds itself in every run.

Input properties the engine's behaviour depends on, and how each
workload sets them:

- format mix: HTML for even ``doc_id``, PDF for odd (``corpus``), so a
  contiguous id range is an even mix;
- document size: the reference's size bands as FIXTURES.md records
  them (~80% one-page documents of at most 10 spans, ~18% of 10-100
  spans, ~2% of 500-5000 spans), log-uniform within a band, the large
  band clipped to the oracle's ``MAX_PARAS`` paragraph cap;
- degraded documents: the ids ``corpus.is_degraded`` marks, as they fall;
- broken documents (convert): a seeded ~1% of PDF documents get one
  malformed layout cell, applied when the raw spans are written;
- duplication (dedup): near-duplicate families (~5% of documents),
  exact copies (~1%) and one template family bigger than the LSH
  hot-bucket cap.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from docling_fast_server_spark.corpus import (
    PARA_WORDS,
    PIC_MOD,
    SPECIAL_EVERY,
    TBL_MOD,
    TBL_REM,
    is_degraded,
    is_pdf_doc,
)
from docling_fast_server_spark.operators.dedup import MINHASH_BUCKET_CAP
from docling_fast_server_spark.oracle import MAX_PARAS

# lowercase alphabetic words only: no ':', '=', '+' or '(' that the PDF
# labeller's key-value / formula / code shape rules could match
VOCAB = tuple(
    """alpha amber anchor apple arch atlas basin beacon birch blade bloom
    bridge brook cabin canal cedar chalk cliff clover coast comet coral
    crane creek delta dune ember fable falcon fern field flint forest frost
    garnet glade granite grove harbor hazel heath hollow island ivory jade
    juniper kestrel lagoon lantern ledge lilac linen maple marsh meadow
    mesa mint moss north oak ocean olive orchard otter pebble pine plain
    prairie quarry quartz raven reed ridge river robin saddle sage shore
    slate spruce stone summit swift thistle timber tundra valley vapor
    violet willow wren yarrow zephyr""".split()
)
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20

# documents stay below the oracle's paragraph cap (MAX_PARAS paragraphs
# of PARA_WORDS words); the lognormal tail is clipped there
MAX_WORDS = PARA_WORDS * MAX_PARAS - 1
# (share, fewest spans, most spans) of the reference's size bands: small
# one-page documents, medium 2-10 pages, large 50+ page skew-makers
# (FIXTURES.md "Size/skew distribution", from the reference's
# tests/test_runpod_{small,medium}_ocr.py and DEPLOYMENT_GUIDE.md
# 126-129). Only the band edges and shares are cited; the log-uniform
# spread inside a band is this benchmark's choice.
SIZE_BANDS = ((0.80, 2, 10), (0.18, 10, 100), (0.02, 500, 5000))
# words per extracted span of the corpus renderer (corpus.expected_spans
# gives ~97 spans for 500 words and ~499 for MAX_WORDS)
WORDS_PER_SPAN = 5.13

# sizes of one run's inputs: not taken from any traffic record, but
# chosen so every run, set-up included, fits the run-time budget of a
# full comparison (about 50 s a run on a 4-core host)
SIZES = {"convert": 1500, "resume": 3000, "dedup": 2000}
BROKEN_SHARE = 0.01  # of PDF documents (convert)
COMMITTED_SHARE = 0.90  # of documents committed before the pass (resume)
NEAR_DUP_SHARE = 0.05  # of dedup documents in near-duplicate families
EXACT_SHARE = 0.01  # of dedup documents that are exact copies
TEMPLATE_SIZE = MINHASH_BUCKET_CAP + 176  # one family over the bucket cap
TEMPLATE_WORDS = 200
# extracted text is a function of the words and of doc_id modulo this:
# the parity picks the format and SPECIAL_EVERY * PARA_WORDS the
# escape-stress decoration, so an id congruent to the original's gets
# the identical extracted text
EXTRACT_PERIOD = 2 * SPECIAL_EVERY * PARA_WORDS

WORKLOADS = tuple(SIZES)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _sizes(rng: np.random.Generator, n: int) -> np.ndarray:
    """Word counts of ``n`` documents drawn from ``SIZE_BANDS``."""
    shares, lo, hi = (np.array(c, dtype=float) for c in zip(*SIZE_BANDS))
    band = rng.choice(len(SIZE_BANDS), size=n, p=shares / shares.sum())
    spans = np.exp(rng.uniform(np.log(lo[band]), np.log(hi[band])))
    return np.clip(np.rint(spans * WORDS_PER_SPAN), 3, MAX_WORDS).astype(np.int64)


def _base_id(seed: int) -> int:
    # a seeded id window, so which ids are degraded varies with the seed;
    # ids stay below 10^6 so doc_id strings sort like the numbers
    return 1000 + (seed * 7919) % 200_000


def _documents(ids: list[int], texts: list[str], rng: np.random.Generator) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), len(ids))]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, len(ids))]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _batch(rng: np.random.Generator, base: int, n: int) -> tuple[list[int], list[str]]:
    ids = list(range(base, base + n))
    texts = [" ".join(_words(rng, int(k))) for k in _sizes(rng, n)]
    return ids, texts


def _has_media_slot(doc_id: int, n_words: int) -> bool:
    n_paras = (n_words + PARA_WORDS - 1) // PARA_WORDS
    return any(
        (doc_id + i) % PIC_MOD == 0 or (doc_id + i) % TBL_MOD == TBL_REM
        for i in range(n_paras)
    )


def _dedup_corpus(rng: np.random.Generator, base: int) -> tuple[list[int], list[str], dict]:
    n_total = SIZES["dedup"]
    n_near = int(round(NEAR_DUP_SHARE * n_total))
    n_exact = int(round(EXACT_SHARE * n_total))
    n_base = n_total - n_near - n_exact - TEMPLATE_SIZE
    ids, texts = _batch(rng, base, n_base)
    nxt = base + n_base

    # near-duplicate families: a long seed document plus 1-4 copies, each
    # with one word replaced
    near_ids: list[int] = []
    while len(near_ids) < n_near:
        seed_words = _words(rng, int(rng.integers(60, 160)))
        family = [seed_words]
        for _ in range(int(rng.integers(1, 5))):
            w = list(seed_words)
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            family.append(w)
        for w in family:
            ids.append(nxt)
            texts.append(" ".join(w))
            near_ids.append(nxt)
            nxt += 1

    # exact copies of base documents, at ids congruent to the original
    # modulo EXTRACT_PERIOD so the extracted text is identical too
    region = -(-nxt // EXTRACT_PERIOD) * EXTRACT_PERIOD
    originals = rng.choice(n_base, size=n_exact, replace=False)
    exact_ids = []
    for j, k in enumerate(sorted(originals.tolist())):
        cid = region + j * EXTRACT_PERIOD + ids[k] % EXTRACT_PERIOD
        ids.append(cid)
        texts.append(texts[k])
        exact_ids.append(cid)
    nxt = region + n_exact * EXTRACT_PERIOD

    # one template family: the same TEMPLATE_WORDS words plus one unique
    # trailing token, at ids that carry no escape-stress decoration, so
    # most members share their LSH band keys and fill one hot bucket
    template = " ".join(_words(rng, TEMPLATE_WORDS))
    start = -(-nxt // SPECIAL_EVERY) * SPECIAL_EVERY
    template_ids = [start + SPECIAL_EVERY * k for k in range(TEMPLATE_SIZE)]
    for k, tid in enumerate(template_ids):
        ids.append(tid)
        texts.append(f"{template} tpl{k}x")
    groups = {"near_dup": near_ids, "exact": exact_ids, "template": template_ids}
    return ids, texts, groups


def make_inputs(workload: str, seed: int) -> dict:
    """The seeded input of one workload run: ``documents`` (an Arrow
    table of the ``documents`` schema), ``broken_ids`` (PDF documents
    whose raw spans get one malformed cell), ``committed_ids`` (documents
    extracted before the timed pass) and ``groups`` (dedup families)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r} (have {sorted(SIZES)})")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    base = _base_id(seed)
    groups: dict = {}
    if workload == "dedup":
        ids, texts, groups = _dedup_corpus(rng, base)
    else:
        ids, texts = _batch(rng, base, SIZES[workload])
    broken: list[int] = []
    committed: list[int] = []
    if workload == "convert":
        pdf = [d for d in ids if is_pdf_doc(d)]
        n_broken = max(1, int(round(BROKEN_SHARE * len(pdf))))
        broken = sorted(rng.choice(pdf, size=n_broken, replace=False).tolist())
    if workload == "resume":
        n_done = int(round(COMMITTED_SHARE * len(ids)))
        committed = sorted(rng.choice(ids, size=n_done, replace=False).tolist())
    return {
        "workload": workload,
        "seed": seed,
        "documents": _documents(ids, texts, rng),
        "broken_ids": broken,
        "committed_ids": committed,
        "groups": groups,
    }


def input_hash(inputs: dict) -> str:
    """sha256 over the logical content of a workload's inputs (not the
    parquet bytes, which depend on the writer version)."""
    h = hashlib.sha256()
    docs = inputs["documents"].to_pydict()
    for row in zip(*(docs[c] for c in ("doc_id", "text", "lang", "source", "n_chars"))):
        h.update("\t".join(map(str, row)).encode())
        h.update(b"\n")
    for key in ("broken_ids", "committed_ids"):
        h.update(f"{key}:{inputs[key]}\n".encode())
    for name in sorted(inputs["groups"]):
        h.update(f"{name}:{inputs['groups'][name]}\n".encode())
    return h.hexdigest()


def properties(inputs: dict) -> dict:
    """Measured properties of the generated input: format shares, size
    quantiles in words, and the degraded, broken, committed and
    duplicate shares."""
    docs = inputs["documents"].to_pydict()
    ids = docs["doc_id"]
    n = len(ids)
    words = np.array([t.count(" ") + 1 for t in docs["text"]])
    n_pdf = sum(1 for d in ids if is_pdf_doc(d))
    degraded = sum(
        1 for d, w in zip(ids, words) if is_degraded(d) and _has_media_slot(d, int(w))
    )
    groups = inputs["groups"]
    return {
        "n_docs": n,
        "html_share": round((n - n_pdf) / n, 4),
        "pdf_share": round(n_pdf / n, 4),
        "words_p50": int(np.percentile(words, 50)),
        "words_p90": int(np.percentile(words, 90)),
        "words_max": int(words.max()),
        "degraded_share": round(degraded / n, 4),
        "broken_share": round(len(inputs["broken_ids"]) / n, 4),
        "committed_share": round(len(inputs["committed_ids"]) / n, 4),
        "near_dup_share": round(len(groups.get("near_dup", ())) / n, 4),
        "exact_copy_share": round(len(groups.get("exact", ())) / n, 4),
        "template_share": round(len(groups.get("template", ())) / n, 4),
        "input_hash": input_hash(inputs),
    }
