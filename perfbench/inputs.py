"""Seeded benchmark inputs and their expected outputs.

Every input is a pure function of ``(n_convs, seed)`` (transcripts, via
the program's own generator ``corpus.generate_corpus``) or of
``(n_docs, seed)`` (registry documents and embeddings, generated here).
Generated inputs are cached as parquet under the benchmark's work
directory, keyed by those arguments, so repeated runs read instead of
regenerate.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pysql2neo4j_spark.corpus import generate_corpus, normalize_surface
from pysql2neo4j_spark.oracle_extractor import alias_to_canonical, extract_turn


_TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def _write_files(pdf: pd.DataFrame, path: str, n_files: int, schema: pa.Schema) -> None:
    """Write ``pdf`` as ``n_files`` parquet files into ``path`` atomically
    (a temp dir renamed into place), split on row order."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        part = pdf.iloc[chunk] if len(chunk) else pdf.iloc[:0]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(tmp, f"part-{i:03d}.parquet"))
    os.rename(tmp, path)


APPEND_FRAC = 0.01  # share of the corpus's turns in the append batch


@dataclass
class Corpus:
    path: str                  # transcripts parquet dir
    transcripts: pd.DataFrame
    append_path: str           # the append batch's parquet dir
    append: pd.DataFrame       # the append batch: copied conversations


def corpus(cache: str, n_convs: int, seed: int) -> Corpus:
    """The transcript corpus plus one append batch. The batch copies
    conversations of the corpus, picked in a seeded order until they hold
    ``APPEND_FRAC`` of its turns, under new conv_ids (``a-<conv_id>``), so
    its expected graph contribution follows from the oracle exactly."""
    root = os.path.join(cache, f"corpus_n{n_convs}_s{seed}")
    os.makedirs(root, exist_ok=True)
    pdf, _ = generate_corpus(n_convs=n_convs, seed=seed)
    path = os.path.join(root, "transcripts")
    if not os.path.isdir(path):
        _write_files(pdf, path, 8, _TRANSCRIPT_ARROW)
    turns = pdf.groupby("conv_id").size()
    order = random.Random(seed).sample(sorted(turns.index), len(turns))
    chosen, n = set(), 0
    while n < max(1, round(len(pdf) * APPEND_FRAC)):
        conv = order.pop()
        chosen.add(conv)
        n += turns[conv]
    batch = pdf[pdf["conv_id"].isin(chosen)].copy()
    batch["conv_id"] = "a-" + batch["conv_id"]
    append_path = os.path.join(root, "append")
    if not os.path.isdir(append_path):
        _write_files(batch, append_path, 1, _TRANSCRIPT_ARROW)
    return Corpus(path, pdf, append_path, batch)


def graph_oracle(transcripts: pd.DataFrame) -> tuple[Counter, set[str]]:
    """(n_obs per canonical edge, canonical entities mentioned) from the
    frozen reference extractor: one count per triple instance, keyed by
    canonical representatives (the pipeline's entity ids when linking is
    exact)."""
    a2c = alias_to_canonical()
    edges: Counter = Counter()
    entities: set[str] = set()
    for text in transcripts["text"]:
        mentions, triples = extract_turn(text)
        entities.update(a2c[norm] for _, norm, _, _ in mentions)
        for subj, pred, obj, _, _ in triples:
            edges[(a2c[normalize_surface(subj)], pred, a2c[normalize_surface(obj)])] += 1
    return edges, entities


# ------------------------------------------------------------ registry

# The shape of the registry's star-schema fixtures (FIXTURES.md, table A,
# `documents` and `embeddings`): word-salad texts of 10-99 words over a
# 30-word vocabulary, lang in {de,en,es,fr,zh} with en most common,
# source in src0..src19, and about one document in twenty a copy of
# another with " dup" appended; embeddings are random unit vectors of
# dimension 64 with labels 0..9.
_WORDS = (
    "a the key agg row scan slow fast table value part hash join small line customer "
    "query order group batch window spark data column merge sort filter big stream vector"
).split()
_LANGS, _LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
_DUP_P = 0.05
_DIM = 64


def registry_fixture(cache: str, n_docs: int, seed: int) -> str:
    """A directory holding ``documents.parquet`` and ``embeddings.parquet``
    of ``n_docs`` rows each, in the registry fixtures' shape (see above).
    Returns the directory (the ``sf_dir`` the registry's queries and
    DuckDB oracles read)."""
    root = os.path.join(cache, f"registry_n{n_docs}_s{seed}")
    if os.path.isdir(root):
        return root
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(_WORDS, size=int(rng.integers(10, 100)))) for _ in range(n_docs)]
    for i in range(n_docs):
        if rng.random() < _DUP_P:
            texts[i] = texts[int(rng.integers(n_docs))] + " dup"
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, size=n_docs, p=_LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype("int64")

    x = rng.standard_normal((n_docs, _DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype="int64"),
        "embedding": list(x.astype("float32")),
        "label": rng.integers(0, 10, n_docs).astype("int32"),
    })
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(tmp, "documents.parquet"))
    emb_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    pq.write_table(pa.Table.from_pandas(emb, schema=emb_schema, preserve_index=False),
                   os.path.join(tmp, "embeddings.parquet"))
    os.rename(tmp, root)
    return root


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-independent checksum) of a query result: each
    row is rendered with its columns in name order and floats at 6
    decimals, and the rendered rows are sorted before hashing."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rendered = sorted(
        "|".join(f"{row[i]:.6f}" if isinstance(row[i], float) else
                 "" if row[i] is None else str(row[i]) for i in order)
        for row in rows
    )
    return len(rendered), hashlib.sha256("\n".join(rendered).encode()).hexdigest()[:16]


@dataclass
class Registry:
    path: str                          # sf_dir holding documents/embeddings parquet
    want: dict[str, tuple[int, str]]   # key -> DuckDB oracle digest
    rows_read: int                     # input rows one pass over the keys reads


def registry(cache: str, n_docs: int, seed: int, keys: tuple[str, ...]) -> Registry:
    """The registry fixture plus each key's expected digest, from the
    key's DuckDB oracle (``resolve_oracles()``) over the same parquet."""
    import duckdb

    from pysql2neo4j_spark.entry_queries import resolve_oracles

    path = registry_fixture(cache, n_docs, seed)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = path  # the IVF oracles train on this fixture
    oracles = resolve_oracles()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')")
        want = {}
        for key in keys:
            cur = con.execute(oracles[key])
            want[key] = result_digest([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    # dedup keys read documents, ANN keys read embeddings; both hold n_docs rows
    return Registry(path, want, n_docs * len(keys))
