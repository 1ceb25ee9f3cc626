"""Seeded benchmark inputs.

Two families, both a pure function of the seed:

- `replica_tables`: the contract's shipped `documents` / `embeddings`
  tables (vendored under perfbench/data) replicated the way
  tools/make_scaled_sf.py builds a scaled replica: seed s shifts every
  key by s * (max_key + 1), appends " r{s}" to every text (fresh hashes,
  shingles and geocodes) and flips the sign of a seeded subset of
  embedding coordinates (float32 kept; cosine geometry preserved). Seed 0
  is the shipped tables unchanged.
- `write_pages`: the pages table in the shape sources.pages.synth_pages
  produces (url, warc_ts, html, text, lang), drawn from a seeded numpy
  generator, with malformed pages in the shape of
  sources.pages.synth_malformed_pages appended after the valid id range.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _replica_docs(src: str, seed: int, limit: int | None) -> pa.Table:
    t = pq.read_table(src)
    if limit is not None:
        t = t.filter(pc.less(t["doc_id"], limit))
    if seed == 0:
        return t
    span = pc.max(pq.read_table(src, columns=["doc_id"])["doc_id"]).as_py() + 1
    text = pc.binary_join_element_wise(t["text"], pa.scalar(f"r{seed}"), " ")
    return pa.table(
        {
            "doc_id": pc.add(t["doc_id"], seed * span),
            "text": text,
            "lang": t["lang"],
            "source": t["source"],
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )


def _replica_embeddings(src: str, seed: int, limit: int | None) -> pa.Table:
    t = pq.read_table(src)
    if limit is not None:
        t = t.filter(pc.less(t["vec_id"], limit))
    if seed == 0:
        return t
    span = pc.max(pq.read_table(src, columns=["vec_id"])["vec_id"]).as_py() + 1
    flat = t["embedding"].combine_chunks()
    dim = len(flat[0])
    x = flat.values.to_numpy(zero_copy_only=False).astype(np.float32).reshape(-1, dim)
    sign = np.where(np.random.default_rng(seed).integers(0, 2, dim) == 0, 1.0, -1.0)
    x = x * sign.astype(np.float32)
    emb = pa.ListArray.from_arrays(flat.offsets, pa.array(x.reshape(-1), pa.float32()))
    return pa.table(
        {
            "vec_id": pc.add(t["vec_id"], seed * span),
            "embedding": emb.cast(t.schema.field("embedding").type),
            "label": t["label"],
        }
    )


def replica_tables(out_dir: str, seed: int, docs: str, limit: int | None = None) -> str:
    """Write `documents.parquet` (from the vendored `docs` scale) and
    `embeddings.parquet` (sf0.01) for `seed` into out_dir, one file each —
    the layout the queries and their DuckDB oracles read."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        _replica_docs(os.path.join(DATA, f"documents_{docs}.parquet"), seed, limit),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        _replica_embeddings(os.path.join(DATA, "embeddings_sf0.01.parquet"), seed, limit),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return out_dir


def write_pages(path: str, n: int, seed: int, n_bad: int) -> None:
    """The pages fixture as one parquet file at `path`: n valid pages whose
    content depends on (seed, doc_id), ids [0, n), then n_bad malformed
    pages at ids [n, n + n_bad).

    Same construction as sources.pages.synth_pages (exact duplicates at
    doc_id % 17 == 16, near-duplicates at doc_id % 31 == 30, 24-63 tokens,
    Zipf-ish domains) and sources.pages.synth_malformed_pages (empty text,
    unknown lang, out-of-range timestamp by doc_id % 3), drawn from a
    numpy generator seeded with `seed` instead of JVM hashes, so the
    fixture needs no Spark session. DuckDB reads the same file for the
    oracle."""
    from geotiff_tiler_spark.sources import pages

    rng = np.random.default_rng(seed)
    ids = np.arange(n)
    base = np.where((ids % 17 == 16) & (ids > 0), ids - 1, ids)
    n_tok = rng.integers(0, 40, n) + 24
    words = np.asarray(pages.VOCAB, dtype=object)[rng.integers(0, len(pages.VOCAB), (n, 63))]
    text = [" ".join(words[b, : n_tok[b]]) for b in base]
    text = [t + " extra" if i % 31 == 30 else t for i, t in enumerate(text)]
    u = rng.random(n)
    domain = np.floor(u**4 * pages.N_DOMAINS).astype(np.int64)
    ts = pages.BASE_EPOCH + rng.integers(0, 31536000, n)
    lang = np.asarray(pages.LANGS, dtype=object)[rng.integers(0, len(pages.LANGS), n)]
    url = [f"https://d{d}.example.com/p/{i}" for i, d in zip(ids, domain)]
    html = [f"<html><head><title>doc {i}</title></head><body><p>{t}</p></body></html>" for i, t in zip(ids, text)]

    bad = np.arange(n, n + n_bad)
    mode = bad % 3
    bad_text = ["" if m == 0 else f"malformed page {i}" for i, m in zip(bad, mode)]
    ids = np.concatenate([ids, bad])
    url += [f"https://bad.example.com/p/{i}" for i in bad]
    ts = np.concatenate([ts, np.where(mode == 2, 86400, pages.BASE_EPOCH)])
    html += [f"<html><body><p>{t}</p></body></html>" for t in bad_text]
    text += bad_text
    lang = list(lang) + ["xx" if m == 1 else "en" for m in mode]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "url": pa.array(url, pa.string()),
                "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
                "html": pa.array([h.encode() for h in html], pa.binary()),
                "text": pa.array(text, pa.string()),
                "lang": pa.array(lang, pa.string()),
            }
        ),
        path,
    )
