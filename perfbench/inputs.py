"""Seeded, fingerprinted inputs for the benchmark.

Every input is a pure function of ``--seed``:

- ``ensure_tables`` writes the ten source tables the registry queries read
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the schemas and value ranges of the engine's test
  tables, drawn from a seeded generator.
- ``ensure_corpus`` builds an extraction corpus with the engine's own
  ``datagen.generate_transcripts_multi`` over a seeded documents table whose
  ``doc_id`` values are shifted by the seed, so payload kinds, conversations
  and PDF bytes change with the seed while the payload mix holds. Next to
  the corpus it stores the single-node golden: one hash per turn of
  ``(conv_id, turn_idx, payload_kind, extracted_text, spans, n_blocks,
  extraction_ok, turn_seq)`` computed by ``kernels.extract.extract_batch``.

Cached entries are keyed by a fingerprint of what they are computed from:
this file's source (the generator of every source table), the seed and the
sizes, and for corpora and goldens also the engine's package sources, so a
changed kernel or datagen never reuses a stale golden. An entry is visible
only once its ``meta.json`` is written, so an interrupted run never leaves a
half-built entry that a later run trusts.
"""
from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Rows per table at scale factor 1 (the engine's test tables: sf0.1 has
# 5,000 documents and 600,000 lineitems).
_ROWS_AT_SF1 = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PART_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
_PART_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

# The extraction corpus shifts doc_id by seed * _SEED_STRIDE: clear of the
# 10^7-per-replica offsets generate_transcripts_multi adds.
_SEED_STRIDE = 1_000_000_000


def digest(*parts: bytes | str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
        h.update(b"\0")
    return h.hexdigest()[:20]


def sources_digest(root: str) -> str:
    """Fingerprint of the engine's sources: the package and the registry."""
    pkg = os.path.join(root, "pdf_parser_spark")
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(pkg):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    parts: list[bytes | str] = []
    for f in sorted(files):
        parts.append(os.path.relpath(f, root))
        with open(f, "rb") as fh:
            parts.append(fh.read())
    return digest(*parts)


class Cache:
    """Directory of fingerprinted entries; oldest entries beyond ``keep``
    are removed when a new one is committed."""

    def __init__(self, root: str, keep: int = 64):
        self.root = root
        self.keep = keep
        os.makedirs(root, exist_ok=True)

    def lookup(self, name: str) -> tuple[str, dict | None]:
        path = os.path.join(self.root, name)
        try:
            with open(os.path.join(path, "meta.json")) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return path, None
        os.utime(path)
        return path, meta

    def begin(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)

    def commit(self, path: str, meta: dict) -> dict:
        tmp = os.path.join(path, "meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(path, "meta.json"))
        self._prune()
        return meta

    def _prune(self) -> None:
        entries = [os.path.join(self.root, n) for n in os.listdir(self.root)]
        entries = sorted(
            (e for e in entries if os.path.isdir(e)), key=os.path.getmtime, reverse=True
        )
        for old in entries[self.keep :]:
            shutil.rmtree(old, ignore_errors=True)


# ------------------------------------------------------------------ tables ---

def documents(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 8])
    vocab = np.array(_VOCAB)
    n_words = rng.integers(8, 101, n)
    words = rng.integers(0, len(vocab), int(n_words.sum()))
    ends = np.cumsum(n_words)
    texts = [" ".join(vocab[words[e - k : e]]) for e, k in zip(ends, n_words)]
    # a few exact duplicates of earlier documents, as crawled corpora have
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    n = {t: max(1, int(round(r * sf))) for t, r in _ROWS_AT_SF1.items()}
    rng = [np.random.default_rng([seed, i]) for i in range(len(TABLES))]
    i32 = np.int32
    out = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
    }
    r = rng[2]
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": r.integers(0, 25, n["customer"]).astype(i32),
            "c_acctbal": _money(r, 0, 10_000, n["customer"]),
            "c_mktsegment": r.choice(_SEGMENTS, n["customer"]),
        }
    )
    r = rng[3]
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": r.integers(0, 25, n["supplier"]).astype(i32),
            "s_acctbal": _money(r, 0, 10_000, n["supplier"]),
        }
    )
    r = rng[4]
    k = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": np.char.add(
                np.char.add(r.choice(_PART_ADJ, n["part"]), " "),
                r.choice(_PART_NOUN, n["part"]),
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n["part"]).astype(str)),
            "p_type": r.choice(_PART_TYPES, n["part"]),
            "p_size": r.integers(1, 51, n["part"]).astype(i32),
            "p_retailprice": np.round(900 + (k % 1000) * 0.1, 2),
        }
    )
    r = rng[5]
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n["orders"]),
            "o_totalprice": _money(r, 1_000, 500_000, n["orders"]),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": r.choice(_PRIORITIES, n["orders"]),
        }
    )
    r = rng[6]
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": r.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": r.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": r.integers(1, 8, m).astype(i32),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, m),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": r.choice(np.array(["A", "N", "R"]), m),
            "l_linestatus": r.choice(np.array(["F", "O"]), m),
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", m),
        }
    )
    r = rng[7]
    m = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(r.integers(0, month_us, m)).astype("timedelta64[us]"),
            "user_id": r.integers(0, max(1, int(15_000 * sf)), m).astype(np.int64),
            "event_type": r.choice(_EVENT_TYPES, m),
            "value": np.round(r.exponential(50.0, m), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, m)],
        }
    )
    out["documents"] = documents(seed, n["documents"])
    r = rng[9]
    v = r.standard_normal((n["embeddings"], 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": list(v),
            "label": r.integers(0, 10, n["embeddings"]).astype(i32),
        }
    )
    return out


def _write(df: pd.DataFrame, path: str) -> None:
    schema = None
    if "embedding" in df.columns:
        schema = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        )
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def ensure_tables(cache: Cache, seed: int, sf: float) -> tuple[str, dict]:
    """The ten source tables at scale ``sf`` for ``seed``; returns the
    directory and its meta (``generate_s``, input bytes)."""
    with open(__file__, "rb") as f:
        key = digest(f.read(), str(seed), repr(sf))
    path, meta = cache.lookup(f"tables-{key}")
    sf_dir = os.path.join(path, "sf")
    if meta is None:
        t0 = time.perf_counter()
        cache.begin(path)
        os.makedirs(sf_dir)
        for name, df in make_tables(seed, sf).items():
            _write(df, os.path.join(sf_dir, f"{name}.parquet"))
        meta = cache.commit(
            path,
            {
                "generate_s": time.perf_counter() - t0,
                "bytes": sum(
                    os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)
                ),
            },
        )
    return sf_dir, meta


# ---------------------------------------------------------- extraction corpus ---

OUTPUT_COLUMNS = [
    "conv_id", "turn_idx", "payload_kind", "extracted_text", "spans",
    "n_blocks", "extraction_ok", "turn_seq",
]
_SPANS = pa.list_(pa.struct([("start", pa.int64()), ("end", pa.int64())]))


def _text(col: pa.ChunkedArray | pa.Array) -> pa.Array:
    """A column as strings; nulls become a marker no value can take."""
    return pc.cast(col, pa.string()).fill_null("\x00")


def _spans_json(spans: pa.Array) -> pa.Array:
    """list<struct<start, end>> -> the JSON text Spark's to_json gives."""
    flat = pc.list_flatten(spans)
    elems = pc.binary_join_element_wise(
        '{"start":', _text(flat.field("start")), ',"end":', _text(flat.field("end")), "}", ""
    )
    lengths = pc.list_value_length(spans).fill_null(0).to_numpy()
    offsets = pa.array(np.concatenate([[0], np.cumsum(lengths)]), pa.int32())
    lists = pa.ListArray.from_arrays(offsets, elems, mask=spans.is_null())
    return pc.binary_join_element_wise("[", pc.binary_join(lists, ","), "]", "")


def row_digests(t: pa.Table) -> pd.DataFrame:
    """(conv_id, turn_idx, h) per output row, where h is the md5 of every
    column of ``OUTPUT_COLUMNS`` as text (spans as JSON). Order-independent:
    rows are matched by (conv_id, turn_idx), never by position."""
    t = t.combine_chunks()
    cols = [
        _spans_json(t.column(c).chunk(0)) if c == "spans" else t.column(c).chunk(0)
        for c in OUTPUT_COLUMNS
    ]
    rows = pc.binary_join_element_wise(*map(_text, cols), "\x1f").to_pylist()
    return pd.DataFrame(
        {
            "conv_id": t.column("conv_id").to_numpy(),
            "turn_idx": t.column("turn_idx").to_numpy().astype("int64"),
            "h": [hashlib.md5(r.encode()).hexdigest() for r in rows],
        }
    )


def _golden_chunk(pdf: pd.DataFrame) -> pa.Table:
    """Single-node extraction of one chunk (every output column but turn_seq)."""
    from pdf_parser_spark.kernels.extract import extract_batch

    g = extract_batch(pdf)
    return pa.table(
        {c: pa.array(g[c], _SPANS) if c == "spans" else pa.array(g[c]) for c in OUTPUT_COLUMNS[:-1]}
    )


def golden(corpus_path: str, workers: int) -> pd.DataFrame:
    """Single-node golden over a corpus, chunked across ``workers``
    processes (each runs the same ``extract_batch`` the Spark job wraps)."""
    df = pq.read_table(corpus_path, columns=["conv_id", "turn_idx", "text"]).to_pandas()
    step = max(1, -(-len(df) // (workers * 4)))
    chunks = [df.iloc[i : i + step] for i in range(0, len(df), step)]
    with multiprocessing.get_context("spawn").Pool(workers) as pool:
        t = pa.concat_tables(pool.map(_golden_chunk, chunks))
    # turn_seq as the window assigns it: dense, 1-based, per conversation in
    # turn_idx order
    t = t.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    conv = t.column("conv_id").to_pandas()
    seq = conv.groupby(conv).cumcount().to_numpy() + 1
    g = row_digests(t.append_column("turn_seq", pa.array(seq, pa.int64())))
    g["ok"] = t.column("extraction_ok").to_numpy(zero_copy_only=False)
    return g


def shifted_documents_dir(cache_path: str, seed: int, n_docs: int) -> str:
    d = os.path.join(cache_path, "docs")
    os.makedirs(d, exist_ok=True)
    docs = documents(seed, n_docs)
    docs["doc_id"] += seed * _SEED_STRIDE
    _write(docs, os.path.join(d, "documents.parquet"))
    return d


def ensure_corpus(
    cache: Cache,
    name: str,
    seed: int,
    n_docs: int,
    mult: int,
    src_digest: str,
    workers: int,
) -> tuple[str, dict, pd.DataFrame]:
    """Extraction corpus of ``n_docs x mult`` turns plus its golden.
    Returns (corpus path, meta, golden)."""
    from pdf_parser_spark.datagen import generate_transcripts_multi

    with open(__file__, "rb") as f:
        key = digest(f.read(), src_digest, name, str(seed), str(n_docs), str(mult))
    path, meta = cache.lookup(f"{name}-{key}")
    corpus = os.path.join(path, "transcripts.parquet")
    gpath = os.path.join(path, "golden.parquet")
    if meta is None:
        cache.begin(path)
        t0 = time.perf_counter()
        docs_dir = shifted_documents_dir(path, seed, n_docs)
        generate_transcripts_multi(docs_dir, corpus, mult=mult)
        shutil.rmtree(docs_dir)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        g = golden(corpus, workers)
        g.to_parquet(gpath, index=False)
        meta = cache.commit(
            path,
            {
                "generate_s": gen_s,
                "golden_s": time.perf_counter() - t0,
                "turns": len(g),
                "failures": int((~g["ok"]).sum()),
                "bytes": os.path.getsize(corpus),
            },
        )
    return corpus, meta, pd.read_parquet(gpath)
