"""Seeded input generation for the three workloads.

Everything the engine reads is written here as parquet under the cache
directory, so the engine sees only generated tables.  The same seed gives
byte-identical files.

Metadata documents come from a frozen copy of the project's corpus
arithmetic and serializer (``frozen/``, so engine edits never change the
inputs), with one change: about one
document in 61 gets an antimeridian-crossing bounding box (west > east), so
the extents layer's split path carries real rows.  Serializing a document
costs about 1 ms of Python, so the documents are generated once per checkout
into a seed-independent pool (ids 1..Sizes.pool_docs, spread over worker
processes); each seed then draws its own sample of pool ids.  Everything
else (extents, points, tiles, texts, embeddings) is cheap arithmetic drawn
straight from the seed.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CROSSING_MOD = 61  # doc ids with (id * 7919) % 61 == 0 cross the antimeridian
TEXT_VOCAB = 5_000
PARQUET_ROW_GROUP = 1_000

SPAN_TYPE = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
CORPUS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(SPAN_TYPE)),
    ("parent", pa.int64()),  # pool id the row belongs to (catalog rows too)
])


@dataclass(frozen=True)
class Sizes:
    """Input sizes of every workload (the self-test shrinks them)."""

    ingest_docs: int = 4_000
    serve_docs: int = 3_000
    serve_points: int = 6_000
    serve_knn_points: int = 300
    serve_polar_points: int = 60
    serve_tile_zoom: int = 7
    curate_update_docs: int = 1_000
    curate_texts: int = 800
    curate_words: int = 60
    curate_planted_words: int = 200
    curate_planted_clusters: int = 30
    curate_eval_docs: int = 100
    curate_embeddings: int = 3_000
    curate_dim: int = 32

    @property
    def pool_docs(self) -> int:
        return max(self.ingest_docs, self.curate_update_docs) * 6 // 5


TINY = Sizes(
    ingest_docs=300, serve_docs=400, serve_points=800, serve_knn_points=60,
    serve_polar_points=10, serve_tile_zoom=4, curate_update_docs=150, curate_texts=150,
    curate_words=30, curate_planted_words=60, curate_planted_clusters=6,
    curate_eval_docs=20, curate_embeddings=300,
)


# ------------------------------------------------------------- doc geometry

def crossing(doc_id: int) -> bool:
    return (doc_id * 7919) % CROSSING_MOD == 0


def bbox_halfdeg(doc_id: int) -> tuple[int, int, int, int]:
    """(west, south, east, north) in half degrees: the corpus box, or an
    antimeridian-crossing box for the planted crossing documents."""

    from frozen.corpus import bbox_halfdeg as corpus_bbox

    w, s, e, n = corpus_bbox(doc_id)
    if crossing(doc_id) and doc_id % 97 != 0:
        w = 330 + (doc_id * 7) % 29          # 165.0 .. 179.0 E
        e = -359 + (doc_id * 11) % 40        # 179.5 .. 160.0 W
    return w, s, e, n


def bbox_halfdeg_array(ids: np.ndarray) -> tuple[np.ndarray, ...]:
    """Vectorized twin of :func:`bbox_halfdeg` (serve extents, oracles)."""

    ids = ids.astype(np.int64)
    west = -360 + (ids * 37) % 680
    south = -180 + (ids * 53) % 330
    east = np.minimum(west + 1 + (ids * 13) % 40, 360)
    north = np.minimum(south + 1 + (ids * 29) % 30, 180)
    cross = ((ids * 7919) % CROSSING_MOD == 0) & (ids % 97 != 0)
    west = np.where(cross, 330 + (ids * 7) % 29, west)
    east = np.where(cross, -359 + (ids * 11) % 40, east)
    world = ids % 97 == 0
    west = np.where(world, -360, west)
    south = np.where(world, -180, south)
    east = np.where(world, 360, east)
    north = np.where(world, 180, north)
    return west, south, east, north


def _doc_rows(doc_id: int) -> list[tuple[str, list[dict], int]]:
    """Corpus rows of one pool document: the document and, for ISO docs with
    a resolvable catalog, its catalog sibling."""

    from frozen import corpus
    from frozen.serialize import serialize_sections

    rec = corpus.make_record(doc_id)
    w, s, e, n = bbox_halfdeg(doc_id)
    rec["bounding_box"] = {
        "west": f"{w / 2:.1f}", "south": f"{s / 2:.1f}",
        "east": f"{e / 2:.1f}", "north": f"{n / 2:.1f}",
    }
    spans, offset = [], 0
    for sec in serialize_sections(rec, corpus.standard_of(doc_id)):
        spans.append({"kind": "text", "text": sec, "media_ref": "", "offset": offset})
        offset += len(sec)
    if doc_id % corpus.RASTER_MOD == 1:
        tx, ty = corpus.tile_xy(doc_id)
        spans.append({"kind": "media", "text": "",
                      "media_ref": f"tile://{corpus.TILE_LEVEL}/{tx}/{ty}", "offset": offset})
    if rec["attr_catalog_url"]:
        spans.append({"kind": "media", "text": "", "media_ref": rec["attr_catalog_url"],
                      "offset": offset})
    rows = [(corpus.doc_id_str(doc_id), spans, doc_id)]
    if corpus.catalog_kind(doc_id) == "ok":
        cat = [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in corpus.make_catalog_spans(doc_id)
        ]
        rows.append((corpus.cat_id_str(doc_id), cat, doc_id))
    return rows


def _pool_chunk(args: tuple[int, int]) -> list:
    lo, hi = args
    import sys

    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    out = []
    for i in range(lo, hi):
        out.extend(_doc_rows(i))
    return out


def source_tag() -> str:
    """Hash of the benchmark's generator and oracle sources: inputs and
    expected answers made by other code are never reused.  The engine's
    sources are not part of it, so two commits that differ only in ``gmx/``
    share their inputs."""

    h = hashlib.sha1()
    files = [os.path.join(HERE, f) for f in ("inputs.py", "oracle.py", "workloads.py")]
    frozen = os.path.join(HERE, "frozen")
    for dirpath, dirnames, names in sorted(os.walk(frozen)):
        dirnames.sort()
        files += [os.path.join(dirpath, f) for f in sorted(names) if f.endswith(".py")]
    for path in files:
        with open(path, "rb") as fh:
            h.update(os.path.relpath(path, HERE).encode() + fh.read())
    return h.hexdigest()[:10]


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=PARQUET_ROW_GROUP)
    os.replace(tmp, path)


def pool_path(cache: str, n_docs: int, workers: int) -> str:
    """The seed-independent document pool, generated on first use."""

    path = os.path.join(cache, f"pool_{n_docs}_{source_tag()}.parquet")
    if os.path.exists(path):
        return path
    step = 500
    chunks = [(lo, min(lo + step, n_docs + 1)) for lo in range(1, n_docs + 1, step)]
    pool = multiprocessing.get_context("spawn").Pool(max(1, workers))
    try:
        parts = pool.map(_pool_chunk, chunks)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    for old in os.listdir(cache):  # pools built by other generator sources
        if old.startswith(f"pool_{n_docs}_"):
            os.remove(os.path.join(cache, old))
    rows = [r for part in parts for r in part]
    table = pa.Table.from_pydict(
        {
            "doc_id": [r[0] for r in rows],
            "spans": [r[1] for r in rows],
            "parent": [r[2] for r in rows],
        },
        schema=CORPUS_SCHEMA,
    )
    _write(table, path)
    return path


def sample_ids(seed: int, salt: int, population: int, n: int) -> np.ndarray:
    """``n`` distinct ids in 1..population, sorted, from (seed, salt)."""

    rng = np.random.default_rng([seed, salt])
    return np.sort(rng.choice(population, size=n, replace=False) + 1)


def corpus_sample(pool: str, ids: np.ndarray, path: str) -> None:
    """The pool rows (documents + catalog siblings) of the sampled ids."""

    table = pq.read_table(pool)
    keep = pc.is_in(table["parent"], value_set=pa.array(ids, pa.int64()))
    _write(table.filter(keep), path)


# ------------------------------------------------------------------- serve

def serve_tables(seed: int, sizes: Sizes, out: str) -> None:
    """Extents (the shape ``extents_df`` returns), query points and tiles."""

    # exactly one whole-world box (id % 97 == 0) per 97 documents, so the
    # skewed large tier, and the overlap and PIP output it drives, does not
    # vary with the seed
    rng = np.random.default_rng([seed, 2])
    slots = rng.choice(10_000_000 // 97, size=sizes.serve_docs, replace=False)
    offset = rng.integers(1, 97, size=sizes.serve_docs)
    offset[: round(sizes.serve_docs / 97)] = 0
    ids = np.sort(slots * 97 + offset)
    w, s, e, n = bbox_halfdeg_array(ids)
    doc_ids = np.array([f"doc-{i:08d}" for i in ids], dtype=object)
    std = np.array(["fgdc", "iso", "arcgis"], dtype=object)[ids % 3]
    cross = w > e
    cols = {"doc_id": [], "standard": [], "west": [], "south": [], "east": [],
            "north": [], "part": [], "split": []}

    def add(mask, west, east, part, split):
        cols["doc_id"].append(doc_ids[mask])
        cols["standard"].append(std[mask])
        cols["west"].append(west[mask] / 2.0)
        cols["south"].append(s[mask] / 2.0)
        cols["east"].append(east[mask] / 2.0)
        cols["north"].append(n[mask] / 2.0)
        cols["part"].append(np.full(mask.sum(), part, np.int32))
        cols["split"].append(np.full(mask.sum(), split))

    full_e, full_w = np.full_like(e, 360), np.full_like(w, -360)
    add(~cross, w, e, 0, False)
    add(cross, w, full_e, 0, True)
    add(cross, full_w, e, 1, True)
    ext = pa.table({k: np.concatenate(v) for k, v in cols.items()})
    _write(ext, os.path.join(out, "extents.parquet"))

    rng = np.random.default_rng([seed, 3])
    m, polar = sizes.serve_points, sizes.serve_polar_points
    # half-degree lattice points (exact doubles); the last ``polar`` points
    # sit above 84 N, where no box centroid lies, so kNN must widen its ring
    xh = rng.integers(-360, 361, size=m)
    yh = rng.integers(-180, 181, size=m)
    yh[m - polar:] = rng.integers(168, 181, size=polar)
    pts = pa.table({
        "point_id": np.arange(m, dtype=np.int64),
        "lon": xh / 2.0,
        "lat": yh / 2.0,
    })
    _write(pts, os.path.join(out, "points.parquet"))
    # the kNN query set: an evenly strided slice plus every polar point
    stride = max(1, (m - polar) // (sizes.serve_knn_points - polar))
    knn_idx = np.concatenate([np.arange(0, m - polar, stride)[: sizes.serve_knn_points - polar],
                              np.arange(m - polar, m)])
    _write(pts.take(pa.array(knn_idx)), os.path.join(out, "knn_points.parquet"))

    z = sizes.serve_tile_zoom
    nx = 1 << z
    x, y = np.meshgrid(np.arange(nx), np.arange(nx), indexing="ij")
    x, y = x.ravel(), y.ravel()
    tiles = pa.table({
        "tile_id": np.array([f"t{z}-{a}-{b}" for a, b in zip(x, y)], dtype=object),
        "z": np.full(x.size, z, np.int32),
        "x": x.astype(np.int32),
        "y": y.astype(np.int32),
    })
    _write(tiles, os.path.join(out, "tiles.parquet"))


# ------------------------------------------------------------------ curate

def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [f"w{v}" for v in rng.integers(0, TEXT_VOCAB, size=n)]


def curate_tables(seed: int, sizes: Sizes, out: str) -> list[tuple[int, int]]:
    """Texts with planted near-duplicate clusters, an eval slice that quotes
    some training passages, and embeddings.  Returns the planted pairs.

    A planted cluster is a longer source text and a chain of one or two
    copies, each copy its predecessor plus one appended word.  That adds a
    single shingle, so each planted pair has Jaccard n/(n+1) > 0.99 for the
    n ~ 200 shingles of a source, far above the 0.5 threshold; the chance
    that LSH (4 bands x 4 rows) misses such a pair is about 1e-7."""

    rng = np.random.default_rng([seed, 4])
    n = sizes.curate_texts
    texts = [_words(rng, sizes.curate_words) for _ in range(n)]
    n_clusters = sizes.curate_planted_clusters
    n_copies = [2 if c % 3 == 0 else 1 for c in range(n_clusters)]
    picked = rng.choice(n, size=n_clusters + sum(n_copies), replace=False)
    planted, at = [], 0
    for c in range(n_clusters):
        members = [int(v) for v in picked[at:at + 1 + n_copies[c]]]
        at += len(members)
        texts[members[0]] = _words(rng, sizes.curate_planted_words)
        for k, (prev, dst) in enumerate(zip(members, members[1:])):
            texts[dst] = texts[prev] + [f"x{c}-{k}"]
            planted.append((min(prev, dst), max(prev, dst)))
    planted.sort()
    doc_ids = np.arange(n, dtype=np.int64)
    _write(pa.table({"doc_id": doc_ids, "text": [" ".join(t) for t in texts]}),
           os.path.join(out, "texts.parquet"))

    ev = []
    quoted = rng.choice(n, size=sizes.curate_eval_docs // 2, replace=False)
    for j in range(sizes.curate_eval_docs):
        words = _words(rng, 40)
        if j < quoted.size:  # half the eval docs quote 12 words of a training doc
            src = texts[int(quoted[j])]
            at = int(rng.integers(0, len(src) - 12))
            words[10:22] = src[at:at + 12]
        ev.append(" ".join(words))
    _write(pa.table({"doc_id": np.arange(10**9, 10**9 + len(ev), dtype=np.int64), "text": ev}),
           os.path.join(out, "eval.parquet"))

    vals = rng.integers(-1000, 1001, size=(sizes.curate_embeddings, sizes.curate_dim))
    emb = (vals / 1000.0).astype(np.float32)
    _write(
        pa.table({
            "vec_id": np.arange(sizes.curate_embeddings, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        }),
        os.path.join(out, "embeddings.parquet"),
    )
    return planted
