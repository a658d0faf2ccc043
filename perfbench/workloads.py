"""Seeded inputs, goldens and output checks for the benchmark workloads.

Each workload turns a seed into Parquet tables (the only thing the jobs
see) plus a golden computed by an independent oracle.  Both are cached
under ``<work>/inputs/<workload>-<seed>/`` so generation never lands in
a timing.

* ``ocr_docs``: ``datagen.gen_document`` documents + their images; the
  golden is ``oracle.extract_document`` with ``ocr_for_ref``, so every
  distinct image is OCR'd once (spread over a spawn pool).
* ``corpus_clean``: a seeded text corpus shaped like the reference
  corpus, near-duplicates included (``gen_corpus``); the golden
  composes the DuckDB stage oracles of ``__spark_entry__.oracle_sql()``
  (``dedup_components``, ``text_quality``, ``corpus_filter``).
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import numpy as np

# ocr_docs holds exactly OCR_DOCS documents and OCR_IMAGES distinct
# images on every seed, so seeds change content but not load
OCR_DOCS = 24
OCR_IMAGES = 36
CORPUS_DOCS = 5000  # the reference corpus size
TINY_OCR_DOCS = 2
TINY_CORPUS_DOCS = 40


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _atomic_dir(path: str, build) -> str:
    """Build ``path`` once: ``build(tmp)`` fills a temp dir that is
    renamed into place, so an interrupted run never leaves a half
    cache behind."""
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


# --- ocr_docs ---------------------------------------------------------

_POOL_STATE: dict = {}


def _pool_init(seed: int) -> None:
    import ocr_pytorch_spark  # noqa: F401  (BLAS core type before numpy use)
    from ocr_pytorch_spark.config import PipelineConfig
    from ocr_pytorch_spark.models import weights as W

    _POOL_STATE["w"] = W.load_bundled()
    _POOL_STATE["cfg"] = PipelineConfig.fixture()  # as the job runs
    _POOL_STATE["seed"] = seed


def _ocr_ref(ref: str):
    """-> (ref, ([(box_order, text)...] or None when ocr_image raises,
    seconds in ocr_image))."""
    import time

    from ocr_pytorch_spark import datagen, oracle

    img, _ = datagen.gen_image_array(ref, _POOL_STATE["seed"])
    ctpn_w, crnn_w = _POOL_STATE["w"]
    t0 = time.perf_counter()
    try:
        pairs = oracle.ocr_image(img, ctpn_w, crnn_w, _POOL_STATE["cfg"])
    except Exception:  # the job emits an ERROR_BOX_ORDER row instead
        return ref, (None, time.perf_counter() - t0)
    return ref, ([(int(o), t) for o, t in pairs],
                 time.perf_counter() - t0)


def ocr_for_refs(refs: list[str], seed: int) -> dict:
    """OCR each ref once, over ``nproc`` spawned single-thread workers
    (the job's parallelism) -> {ref: (pairs or None, seconds)}."""
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(_nproc(), max(1, len(refs))), _pool_init,
                  (seed,)) as pool:
        out = dict(pool.map(_ocr_ref, refs, chunksize=1))
        pool.close()
        pool.join()
    return out


def select_documents(n_docs: int, n_images: int, seed: int) -> list[dict]:
    """Exactly ``n_docs`` documents of ``datagen.gen_document(i, seed)``,
    i = 0, 1, ..., holding exactly ``n_images`` distinct media refs.  A
    document is skipped when the images it adds would leave more than
    two new images per remaining document to fill, or overshoot the
    budget.  A plain prefix's image total swings by a quarter between
    seeds (Pareto media counts); this keeps the generator's documents
    and fixes the load."""
    from ocr_pytorch_spark import datagen

    docs: list[dict] = []
    refs: set[str] = set()
    i = 0
    while len(docs) < n_docs:
        d = datagen.gen_document(i, seed)
        i += 1
        new = {s["media_ref"] for s in d["spans"]
               if s["kind"] == "media"} - refs
        left = n_images - len(refs) - len(new)
        if 0 <= left <= 2 * (n_docs - len(docs) - 1):
            docs.append(d)
            refs |= new
    return docs


def _build_ocr(out: str, n_docs: int, seed: int, with_golden: bool):
    from ocr_pytorch_spark import datagen, oracle

    docs = select_documents(n_docs, OCR_IMAGES if with_golden else n_docs,
                            seed)
    datagen.write_fixture(out, n_docs, seed, docs=docs)
    refs = datagen.media_refs_of(docs)
    meta = {"docs": len(docs), "images": len(refs),
            "media_spans": sum(s["kind"] == "media"
                               for d in docs for s in d["spans"])}
    if with_golden:
        by_ref = ocr_for_refs(refs, seed)
        golden = {}
        for d in docs:
            g = oracle.extract_document(
                d, None, None, None, None,
                ocr_for_ref=lambda r: by_ref[r][0] or [])
            golden[d["doc_id"]] = [[s["kind"], s["text"], s["media_ref"],
                                    s["offset"]] for s in g["spans"]]
        with open(os.path.join(out, "golden.json"), "w") as f:
            json.dump(golden, f)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


def check_ocr(dst: str, golden: dict) -> int:
    """Documents whose (kind, text, media_ref, order) span sequence
    differs from the golden, plus missing and unexpected documents."""
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(dst, "data"),
                         columns=["doc_id", "spans"]).to_pylist()
    got = {r["doc_id"]: [[s["kind"], s["text"], s["media_ref"],
                          s["offset"]] for s in (r["spans"] or [])]
           for r in rows}
    bad = sum(got.get(k) != v for k, v in golden.items())
    return bad + len(set(got) - set(golden)) + (len(rows) - len(got))


# --- corpus_clean -----------------------------------------------------

# Measured on the repo's reference corpus (sf0.1 documents.parquet,
# 5000 rows): 30 words drawn uniformly (two of them stopwords), 10-100
# words per document (uniform), 5% of documents are another document's
# text plus " dup" (originals drawn with replacement), lang independent
# of the text (en 41%, zh/es/fr/de 14-15% each), source = src{i % 20}.
_VOCAB = ("agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small",
          "sort", "spark", "stream", "table", "value", "vector",
          "window", "the", "a")
# label-propagation rounds dedup.dup_components needs on the reference
# corpus; a generated corpus needing another count is redrawn
REF_ROUNDS = 3
MAX_DRAWS = 20
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def gen_corpus(n_docs: int, seed: int, draw: int = 0) -> list[dict]:
    """Documents (doc_id, text, lang, source, n_chars) shaped like the
    reference corpus.  At its 5000 rows this reproduces its dedup graph:
    ~4550 components, 15-16% of documents in multi-document components,
    the largest of 9-16 documents."""
    rng = np.random.default_rng([seed, 0xC0, draw])
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         int(rng.integers(10, 101)))])
             for _ in range(n_docs)]
    for i in sorted(rng.choice(n_docs, n_docs // 20, replace=False)):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    langs = rng.choice(len(_LANGS), n_docs, p=_LANG_P)
    return [{"doc_id": i, "text": t, "lang": _LANGS[k],
             "source": f"src{i % 20}", "n_chars": len(t)}
            for i, (t, k) in enumerate(zip(texts, langs))]


def bsp_rounds(doc_path: str) -> int:
    """Rounds ``dedup.dup_components`` (min-label propagation until a
    round changes nothing) takes over the corpus's DuckDB LSH pairs.
    The count grows with the longest chain in the pair graph and sets
    much of the job's cost."""
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute("CREATE TABLE documents AS SELECT * FROM "
                    f"read_parquet('{doc_path}')")
        ids = [r[0] for r in con.execute(
            "SELECT doc_id FROM documents").fetchall()]
        pairs = con.execute(
            f"SELECT doc_a, doc_b FROM "
            f"({E.oracle_sql()['dedup_minhash_lsh']})").fetchall()
    finally:
        con.close()
    adj: dict[int, list[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    label = {i: i for i in ids}
    rounds = 0
    while True:
        rounds += 1
        new = {i: min([label[i]] + [label[j] for j in adj.get(i, ())])
               for i in ids}
        if new == label:
            return rounds
        label = new


def corpus_golden(doc_path: str) -> dict:
    """DuckDB: components -> keeper (highest quality, then doc_id) ->
    language + quality gate, from the repo's stage oracles."""
    import duckdb

    import __spark_entry__ as E

    sql = E.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute("CREATE TABLE documents AS SELECT * FROM "
                    f"read_parquet('{doc_path}')")
        con.execute(f"CREATE TABLE comp AS {sql['dedup_components']}")
        con.execute(f"CREATE TABLE qual AS {sql['text_quality']}")
        con.execute("""
            CREATE TABLE keepers AS SELECT doc_id, component FROM (
              SELECT c.doc_id, c.component,
                     row_number() OVER (PARTITION BY c.component
                       ORDER BY q.quality DESC, c.doc_id) AS rk
              FROM comp c JOIN qual q USING (doc_id)) WHERE rk = 1""")
        con.execute("ALTER TABLE documents RENAME TO all_documents")
        con.execute("CREATE TABLE documents AS SELECT * FROM all_documents"
                    " WHERE doc_id IN (SELECT doc_id FROM keepers)")
        kept = con.execute(
            f"SELECT doc_id, lang_pred, quality FROM "
            f"({sql['corpus_filter']})").fetchall()
        comp = con.execute("SELECT doc_id, component FROM comp").fetchall()
    finally:
        con.close()
    return {"kept": {str(d): [lang, round(float(q), 4)]
                     for d, lang, q in kept},
            "component": {str(d): int(c) for d, c in comp}}


def _write_corpus(out: str, docs: list[dict]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out, "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
        "text": pa.array([d["text"] for d in docs], pa.string()),
        "lang": pa.array([d["lang"] for d in docs], pa.string()),
        "source": pa.array([d["source"] for d in docs], pa.string()),
        "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
    }), path)
    return path


def _build_corpus(out: str, n_docs: int, seed: int, with_golden: bool):
    """Draw until the corpus needs REF_ROUNDS component rounds, as the
    reference corpus does: seeds change the content, not the number of
    rounds the job runs (2-5 between seeds otherwise)."""
    for draw in range(MAX_DRAWS):
        path = _write_corpus(out, gen_corpus(n_docs, seed, draw))
        if not with_golden or bsp_rounds(path) == REF_ROUNDS:
            break
    else:
        raise RuntimeError(f"no corpus with {REF_ROUNDS} rounds in "
                           f"{MAX_DRAWS} draws for seed {seed}")
    meta = {"docs": n_docs, "images": 0, "media_spans": 0}
    if with_golden:
        golden = corpus_golden(path)
        meta["components"] = len(set(golden["component"].values()))
        with open(os.path.join(out, "golden.json"), "w") as f:
            json.dump(golden, f)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


def check_corpus(dst: str, golden: dict) -> int:
    """Kept documents that differ from the golden (missing, unexpected,
    or another lang_pred/quality); a kept id outside the input or a
    second keeper of one component counts as one more each."""
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(dst, "data"),
                         columns=["doc_id", "lang_pred", "quality"]
                         ).to_pylist()
    got = {str(r["doc_id"]): [r["lang_pred"],
                              round(float(r["quality"]), 4)]
           for r in rows}
    want = golden["kept"]
    bad = sum(got.get(k) != v for k, v in want.items())
    bad += len(set(got) - set(want)) + (len(rows) - len(got))
    comp = golden["component"]
    bad += sum(k not in comp for k in got)
    per_comp: dict[int, int] = {}
    for k in got:
        if k in comp:
            per_comp[comp[k]] = per_comp.get(comp[k], 0) + 1
    return bad + sum(n - 1 for n in per_comp.values() if n > 1)


# --- registry ---------------------------------------------------------

WORKLOADS = {
    "ocr_docs": {"kind": "ocr", "docs": OCR_DOCS, "tiny": TINY_OCR_DOCS,
                 "build": _build_ocr, "check": check_ocr},
    "corpus_clean": {"kind": "corpus", "docs": CORPUS_DOCS,
                     "tiny": TINY_CORPUS_DOCS, "build": _build_corpus,
                     "check": check_corpus},
}


def prepare(name: str, seed: int, work: str, tiny: bool = False) -> dict:
    """-> {"dir", "meta", "golden"} for (workload, seed), cached.  The
    tiny variant (fixed seed, no golden) feeds the set-up warm-up."""
    wl = WORKLOADS[name]
    n, tag = (wl["tiny"], "tiny") if tiny else (wl["docs"], str(seed))
    d = _atomic_dir(os.path.join(work, "inputs", f"{name}-{n}-{tag}"),
                    lambda out: wl["build"](out, n, seed, not tiny))
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    golden = None
    if not tiny:
        with open(os.path.join(d, "golden.json")) as f:
            golden = json.load(f)
    return {"dir": d, "meta": meta, "golden": golden}
