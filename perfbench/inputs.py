"""Seeded benchmark inputs, cached on disk by (workload, seed, scale).

Each input directory carries a MANIFEST.json with its sizes and content
hash; the run record copies it.

The corpus and vector inputs scale the committed base sample
(perfbench/data: 5,000 documents, 2,000 64-d vectors) by salted
replication, the model the engine's own canary generator uses:

- replica r of the scale factor gets keys offset by r * STRIDE, so ids never collide;
- documents: every word of replica r except the function words gets the
  suffix `_s<seed>r<r>`, so in-replica near-duplicate structure and
  every document's quality score are kept exactly while cross-replica
  overlap drops to almost nothing; the near-duplicate share stays
  constant and dedup work grows linearly with volume, and the seed
  changes every MinHash value;
- vectors: replica r > 0 is circularly shifted by a seed-dependent
  offset, which keeps norms and in-replica geometry and decorrelates
  replicas.

The ANN inputs split the scaled vectors by a seeded hash: one third
queries, two thirds history. The `orders` workload needs no files: its
stream generator runs inside the benchmark JVM from the seed, and its
landing phase calls the engine's generator with the seed.
"""
import hashlib
import json
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Replication factors: documents (pipelinePack) and vectors (IVF-PQ).
CORPUS_SCALE = 1
VECTOR_SCALE = 5
STRIDE = 1_000_000_000
INPUT_VERSION = 3

# Function words stay unsalted: the quality score's stopword term and
# language detection read them, and salting them would push every
# replica below the domain-quality floor and empty the funnel.
FUNCTION_WORDS = ["the", "a", "of", "and", "to", "in", "is", "it",
                  "der", "die", "das", "und", "ist", "ein", "nicht",
                  "el", "la", "de", "los", "que", "y", "en",
                  "le", "les", "des", "et", "un", "est",
                  "的", "是", "在", "了", "和"]


def _sha(path):
    h = hashlib.sha256()
    for f in sorted(p for p in path.rglob("*") if p.is_file()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _shift(r, seed, dim):
    """Distinct non-zero circular shifts for replicas 1..SCALE-1."""
    return 0 if r == 0 else 1 + (r - 1 + seed * 7) % (dim - 1)


def _scale_docs(src, dst, seed, scale):
    dst.mkdir(parents=True)
    con = duckdb.connect()
    keep = ", ".join(f"'{w}'" for w in FUNCTION_WORDS)
    for r in range(scale):
        salted = ("array_to_string(list_transform(string_split(text, ' '), w -> "
                  f"CASE WHEN w = '' OR lower(w) IN ({keep}) THEN w ELSE w || '_s{seed}r{r}' END), ' ')")
        con.execute(f"""
            COPY (SELECT doc_id + {r * STRIDE} AS doc_id, {salted} AS text, lang, source,
                         CAST(length({salted}) AS BIGINT) AS n_chars
                  FROM read_parquet('{src}') ORDER BY doc_id)
            TO '{dst}/part-{r:02d}.parquet' (FORMAT parquet, ROW_GROUP_SIZE 2048)""")
    con.close()


def _scaled_vectors(src, seed, scale):
    t = pq.read_table(src)
    ids = t.column("vec_id").to_numpy()
    emb = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    labels = t.column("label").to_numpy()
    dim = emb.shape[1]
    reps = [(ids + r * STRIDE, np.roll(emb, -_shift(r, seed, dim), axis=1), labels)
            for r in range(scale)]
    return reps


def _vec_table(ids, emb, labels):
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())})


def _split_hash(ids, seed):
    """splitmix64 of (id, seed): a seeded hash independent of row order."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _write_vectors(dst, parts):
    dst.mkdir(parents=True)
    for r, (ids, emb, labels) in enumerate(parts):
        pq.write_table(_vec_table(ids, emb, labels), dst / f"part-{r:02d}.parquet",
                       row_group_size=2048)


def prepare(workload, seed, cache, data):
    """Inputs of one workload, generated once per (workload, seed, scale)."""
    corpus_scale = CORPUS_SCALE
    d = cache / f"{workload}-s{seed}-c{corpus_scale}-v{VECTOR_SCALE}-i{INPUT_VERSION}"
    manifest_path = d / "MANIFEST.json"
    if manifest_path.exists():
        return {"dir": d, "manifest": json.loads(manifest_path.read_text())}
    if d.exists():
        shutil.rmtree(d)
    tmp = d.with_name(d.name + ".tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    sizes = {}
    if workload == "corpus_ann":
        _scale_docs(data / "documents.parquet", tmp / "docs.parquet", seed, corpus_scale)
        parts = _scaled_vectors(data / "embeddings.parquet", seed, corpus_scale)
        _write_vectors(tmp / "emb.parquet", parts)
        parts = _scaled_vectors(data / "embeddings.parquet", seed, VECTOR_SCALE)
        hist, query = [], []
        for ids, emb, labels in parts:
            q = (_split_hash(ids, seed) % np.uint64(3)) == 0
            query.append((ids[q], emb[q], labels[q]))
            hist.append((ids[~q], emb[~q], labels[~q]))
        _write_vectors(tmp / "ann_hist.parquet", hist)
        _write_vectors(tmp / "ann_query.parquet", query)
        sizes = {"docs": 5000 * corpus_scale, "vectors": 2000 * corpus_scale,
                 "ann_history": int(sum(len(p[0]) for p in hist)),
                 "ann_queries": int(sum(len(p[0]) for p in query))}
    manifest = {"workload": workload, "seed": seed, "corpus_scale": corpus_scale,
                "vector_scale": VECTOR_SCALE, "version": INPUT_VERSION,
                "sizes": sizes, "content_sha256": _sha(tmp),
                "base_sha256": {f.name: hashlib.sha256(f.read_bytes()).hexdigest()
                                for f in sorted(data.glob("*.parquet"))}}
    (tmp / "MANIFEST.json").write_text(json.dumps(manifest, indent=1))
    tmp.rename(d)
    return {"dir": d, "manifest": manifest}
