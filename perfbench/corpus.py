"""Seeded benchmark inputs, cached on disk with their expected outputs.

Every input is a pure function of (workload, seed, scale). Generating an
input and computing its expected-output fingerprint is a one-time cost
per (workload, seed, scale, CORPUS_VERSION): it is cached under
``perfbench/.cache`` and reported apart from ``setup_s`` so that set-up
time does not go bimodal between a cold and a warm cache.

Generation runs on the driver in plain Python + pyarrow, never in Spark:
it must not warm the JVM, the codegen caches or the Python workers that
``first_op_s`` measures cold.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when any generated input or fingerprint changes
CORPUS_VERSION = 3

# ---------------------------------------------------------------------------
# sizes
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Scale:
    checkall_docs: int        # checkall_batch corpus rows before dup rows
    stream_files: int         # streaming backlog files (checkall_batch, traced)
    stream_docs_per_file: int
    dedup_base_docs: int      # documents before replication
    dedup_base_vecs: int      # embeddings before replication
    dedup_copies: int         # rotated copies (the gen_scaled_sf.py shape)


SCALES = {
    "full": Scale(checkall_docs=30_000, stream_files=24,
                  stream_docs_per_file=300, dedup_base_docs=5_000,
                  dedup_base_vecs=2_000, dedup_copies=2),
    "tiny": Scale(checkall_docs=600, stream_files=6, stream_docs_per_file=50,
                  dedup_base_docs=300, dedup_base_vecs=120, dedup_copies=2),
}

# workload mixes (per mille): the headline check-all mix, and a corrupt-heavy
# one for the streaming backlog, where far more docs miss the clean-doc
# screen and take the FSM slow path
CHECKALL_CORRUPT, CHECKALL_DUP, N_MEDIA = 50, 5, 256
STREAM_CORRUPT = 300
N_FILES_CHECKALL = 8   # a multi-file table: the scan splits by file

# dedup corpus shape: fitted to the sf0.1 `documents` / `embeddings` tables
# (measured shape in perfbench/README.md, "The dedup corpus")
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
N_LABELS = 10
DIM = 64
N_QUERIES = 20
MIN_WORDS, MAX_WORDS = 10, 99
DUP_SHARE = 0.05         # chance a doc is a near dup (" dup" appended)
BASE_SEED = 42           # the base table is fixed; the run seed varies the copies


def _root() -> str:
    return os.path.dirname(os.path.abspath(__file__))


def cache_dir(workload: str, seed: int, scale: str) -> str:
    return os.path.join(_root(), ".cache",
                        f"{workload}-s{seed}-{scale}-v{CORPUS_VERSION}")


# ---------------------------------------------------------------------------
# order-independent row fingerprints (same value from Python rows and from
# a Spark DataFrame, so expected outputs can be compared without sorting)
# ---------------------------------------------------------------------------

NULL = "\\N"
SEP = "\x1f"


def row_hash(values) -> int:
    s = SEP.join(NULL if v is None else str(v) for v in values)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def py_fingerprint(rows) -> list[int]:
    """[row count, sum of 48-bit md5 row hashes] of a row multiset."""
    n = h = 0
    for r in rows:
        n += 1
        h += row_hash(r)
    return [n, h]


def spark_fingerprint(df, cols: list[str]) -> list[int]:
    """The Spark-side twin of py_fingerprint over `cols` (in order)."""
    from pyspark.sql import functions as F

    s = F.concat_ws(SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(NULL))
                           for c in cols])
    h = F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return [int(row["n"]), int(row["h"] or 0)]


# ---------------------------------------------------------------------------
# checkall_batch: the sources.synth interleaved corpus and streaming backlog
# ---------------------------------------------------------------------------


_DOCS_ARROW = pa.schema([
    pa.field("doc_id", pa.string()),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string()), pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()), pa.field("offset", pa.int32()),
    ]))),
])


def synth_rows(n_docs: int, seed: int, corrupt: int, dup: int):
    """(doc_id, spans) rows exactly as sources.synth.corpus_df emits them
    (same per-index generator, same duplicate-row mapping)."""
    from fastpasta_spark.sources.synth import CorpusConfig, gen_doc, splitmix64

    cfg = CorpusConfig(n_docs=n_docs, seed=seed, n_media=N_MEDIA,
                       corrupt_per_mille=corrupt, dup_per_mille=dup)
    rows = []
    for i in range(n_docs + n_docs * dup // 1000):
        logical = i if i < n_docs else splitmix64(seed + i) % n_docs
        doc_id, spans, _ = gen_doc(logical, cfg)
        rows.append((doc_id, spans))
    return rows


def _write_docs(rows, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        chunk = rows[f * step:(f + 1) * step]
        t = pa.Table.from_pydict(
            {"doc_id": [r[0] for r in chunk], "spans": [r[1] for r in chunk]},
            schema=_DOCS_ARROW)
        pq.write_table(t, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def media_ids() -> set[str]:
    """The media dim's id set (sources.synth.media_df: 'm0'..'m{n-1}')."""
    return {f"m{i}" for i in range(N_MEDIA)}


def twin_violations(rows, valid_media: set[str]) -> list[tuple]:
    """The pure-Python twin of check_all's violation table: the FSM
    (functions/fsm.validate_spans) + the stateless battery + E110 + E100,
    the same oracle tests/test_check_all.py pins check_all against."""
    from fastpasta_spark import schema as S
    from fastpasta_spark.functions.fsm import stateless_doc_checks, validate_spans

    out = []
    seen: Counter = Counter()
    for doc_id, spans in rows:
        tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in (spans or [])]
        for si, off, code, sev, msg in stateless_doc_checks(doc_id, tuples or None):
            out.append((doc_id, si, off, code, sev, msg))
        for si, off, code, sev, msg in validate_spans(tuples):
            out.append((doc_id, si, off, code, sev, msg))
        for si, (kind, _text, ref, off) in enumerate(tuples):
            if kind == S.KIND_MEDIA and ref and ref not in valid_media:
                out.append((doc_id, si, off, S.E110_DANGLING_REF, S.SEV_ERROR,
                            f"media_ref not found in media table: {ref}"))
        seen[doc_id] += 1
    for doc_id, n in seen.items():
        if n > 1:
            out.append((doc_id, None, -1, S.E100_DUPLICATE_KEY, S.SEV_ERROR,
                        f"duplicate doc_id seen {n} times"))
    return out


def twin_metrics(rows, viol: list[tuple]) -> dict[str, float]:
    """The metrics check_all derives from its violation table and keys
    (rollups + uniqueness), computed from the twin's violations."""
    from fastpasta_spark import schema as S

    m: dict[str, float] = {
        "docs_seen": float(len(rows)),
        "doc_id_distinct_exact": float(len({r[0] for r in rows})),
        "total_errors": float(len(viol)),
    }
    by_code: Counter = Counter(v[3] for v in viol)
    docs_by_code: dict[str, set] = {}
    for v in viol:
        docs_by_code.setdefault(v[3], set()).add(v[0] or "\x00")
    for code, n in by_code.items():
        m[f"error_count_{code}"] = float(n)
        m[f"error_docs_{code}"] = float(len(docs_by_code[code]))
    errs = [v for v in viol if v[4] != S.SEV_WARNING]
    m["docs_with_errors"] = float(len({v[0] or "\x00" for v in errs}))
    m["error_codes_distinct"] = float(len({v[3] for v in errs}))
    return m


def _build_checkall(d: str, seed: int, sc: Scale) -> dict:
    rows = synth_rows(sc.checkall_docs, seed, CHECKALL_CORRUPT, CHECKALL_DUP)
    _write_docs(rows, os.path.join(d, "docs"), N_FILES_CHECKALL)
    viol = twin_violations(rows, media_ids())
    # the streaming backlog (drained in the traced run): the same
    # generator with a corrupt-heavy mix, as flat part files because the
    # streaming file source does not recurse
    stream = synth_rows(sc.stream_files * sc.stream_docs_per_file, seed + 1,
                        STREAM_CORRUPT, 0)
    _write_docs(stream, os.path.join(d, "backlog"), sc.stream_files)
    return {
        "n_rows": len(rows),
        "violations": py_fingerprint(viol),
        "metrics": twin_metrics(rows, viol),
        "passed_rows": len({r[0] for r in rows}),
        "stream_rows": len(stream),
    }


# ---------------------------------------------------------------------------
# dedup_nearpairs: an sf0.1-shaped documents/embeddings pair, replicated
# the way scripts/gen_scaled_sf.py builds its proxy (shifted ids, rotated
# token lists, rolled vectors) — a near-dup-rich corpus
# ---------------------------------------------------------------------------


def _base_documents(rng: np.random.Generator, n: int) -> list[dict]:
    """sf0.1-shaped documents: source src{i % 20}; 10-99 words drawn
    uniformly from a 30-word vocabulary; each doc in turn is, with
    probability 5%, replaced by a near dup: the current text of a random
    doc (any source; it may be a dup itself) with " dup" appended."""
    texts = [" ".join(_WORDS[w] for w in rng.integers(
        0, len(_WORDS), int(rng.integers(MIN_WORDS, MAX_WORDS + 1))))
        for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(len(_LANGS), n, p=_LANG_P)
    return [{"doc_id": i, "text": t, "lang": _LANGS[int(lg)],
             "source": f"src{i % N_SOURCES}", "n_chars": len(t)}
            for i, (t, lg) in enumerate(zip(texts, langs))]


def _base_embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """sf0.1-shaped embeddings: i.i.d. Gaussian directions, unit norm,
    float32, and labels 0-9 drawn independently of the vectors."""
    mat = rng.normal(size=(n, DIM))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat.astype(np.float32), rng.integers(0, N_LABELS, n).astype(np.int32)


def dedup_tables(seed: int, sc: Scale) -> tuple[pa.Table, pa.Table]:
    """The fixed sf0.1-shaped base, replicated the way
    scripts/gen_scaled_sf.py builds its proxy: copy c shifts the ids by
    c x base size, rotates each text by its offset in words and rolls each
    vector by its offset. The seed picks the offsets (copy 0 stays as
    is) and which vectors are the cosine queries."""
    base_rng = np.random.default_rng([BASE_SEED, 0xDED])
    base = _base_documents(base_rng, sc.dedup_base_docs)
    bmat, blabels = _base_embeddings(base_rng, sc.dedup_base_vecs)
    rng = np.random.default_rng([seed, 0xDED])
    offsets = [0] + [int(x) for x in rng.choice(
        np.arange(1, 10), sc.dedup_copies - 1, replace=False)]
    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for c, off in enumerate(offsets):
        for d in base:
            w = d["text"].split(" ")
            r = off % len(w)
            text = " ".join(w[r:] + w[:r])
            docs["doc_id"].append(d["doc_id"] + c * sc.dedup_base_docs)
            docs["text"].append(text)
            docs["lang"].append(d["lang"])
            docs["source"].append(d["source"])
            docs["n_chars"].append(len(text))
    mats = [np.roll(bmat, off, axis=1) for off in offsets]
    mat = np.concatenate(mats)
    labels = np.concatenate([blabels] * len(offsets))
    # the queries are vec_id < N_QUERIES (the driver query's predicate),
    # so the seed permutes the id assignment
    vec_ids = rng.permutation(len(mat)).astype(np.int64)
    emb = pa.table({
        "vec_id": pa.array(vec_ids),
        "embedding": pa.array(list(mat), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return pa.table(docs), emb


def _write_split(t: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-t.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(t.slice(f * step, step),
                       os.path.join(out_dir, f"part-{f:05d}.parquet"))


def _duckdb(query: str, **tables: pa.Table) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for name, t in tables.items():
            con.register(name, t)
        return con.execute(query).fetchall()
    finally:
        con.close()


def _jaccard_expected(docs: pa.Table) -> list[int]:
    """Fingerprint of the jaccard_pairs rows the DuckDB SQL of the driver
    contract (__spark_entry__.oracle_sql) gives. The SQL is the slowest
    step of building an input (about 15 s for 10,000 docs on 4 vCPUs) and
    its result depends on the documents table only, which the seed
    varies through one of nine rotation offsets: it is cached by a digest
    of the columns it reads."""
    import __spark_entry__ as entry

    h = hashlib.sha1()
    for col in ("doc_id", "source", "text"):
        h.update(SEP.join(map(str, docs.column(col).to_pylist())).encode())
    path = os.path.join(_root(), ".cache", f"jaccard-{h.hexdigest()}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    rows = _duckdb(entry.oracle_sql()["jaccard_pairs"], documents=docs)
    fp = py_fingerprint((a, b, round(j * 1e6)) for a, b, j in rows)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(fp, f)
    os.replace(tmp, path)
    return fp


def _cosine_expected(emb: pa.Table) -> list[list[int]]:
    """cosine_topk rows from the driver contract's DuckDB SQL."""
    import __spark_entry__ as entry

    rows = _duckdb(entry.oracle_sql()["cosine_topk"], embeddings=emb)
    return sorted([int(q), int(r), int(n), round(s * 1e4)] for q, n, r, s in rows)


def _build_dedup(d: str, seed: int, sc: Scale) -> dict:
    docs, emb = dedup_tables(seed, sc)
    _write_split(docs, os.path.join(d, "documents"), 8)
    _write_split(emb, os.path.join(d, "embeddings"), 4)
    return {"n_rows": docs.num_rows, "n_vecs": emb.num_rows,
            "jaccard": _jaccard_expected(docs), "cosine": _cosine_expected(emb)}


_BUILDERS = {
    "checkall_batch": _build_checkall,
    "dedup_nearpairs": _build_dedup,
}


def ensure(workload: str, seed: int, scale: str) -> tuple[str, dict, bool]:
    """(input dir, expected-output record, built_now). Builds into a temp
    dir and renames it into place, so an interrupted build never leaves
    a half-written cache entry behind."""
    d = cache_dir(workload, seed, scale)
    meta = os.path.join(d, "expected.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return d, json.load(f), False
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    expected = _BUILDERS[workload](tmp, seed, SCALES[scale])
    expected["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, expected, True
