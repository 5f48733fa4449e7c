"""The workloads.  Each puts nearly all its work on one layer:

- ``ingest``: the write path (pipeline/extract + extents + bucketed writes);
- ``serve``: the read path (bucketed/joins reads of a prebuilt index);
- ``Curate``: update/serialize plus the textops hash and shuffle paths.  It
  is not a workload of its own: a traced ``ingest`` run appends it as a
  probe (see ``run.curate_probe``), so its layers are traced on a workload
  the benchmark gates on.

A workload has a ``prepare`` step (timed into ``setup_s``), a ``run_pass``
that makes the calls into ``gmx`` (timed; it consumes every result inside
the timed region and returns what the checks need), and a ``check`` that
compares a pass's outputs with the DuckDB oracle outside the timed region.
Every call into ``gmx`` runs inside ``tracer.span("gmx:<op>")``.
"""

from __future__ import annotations

import json
import os

import numpy as np

import inputs
import oracle

INDEX_BUCKETS = 16


class Workload:
    name = ""
    docs_per_pass = 0

    def __init__(self, seed: int, sizes: inputs.Sizes, data: str, work: str) -> None:
        self.seed, self.sizes, self.data, self.work = seed, sizes, data, work

    def generate(self, pool: str | None) -> None:
        """Write the seed's inputs and expected answers under ``self.data``."""

    def load(self, spark) -> None:
        """Register the generated tables with the session (not timed)."""

    def prepare(self, spark, tracer) -> None:
        """The workload's part of set-up, repeated and timed into setup_s."""

    def run_pass(self, spark, tracer) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> dict[str, bool]:
        """Whether each call's output matched the oracle, by operation."""
        raise NotImplementedError

    def corrupt(self, what: str) -> None:
        """Falsify one expected value (the self-test's negative control)."""
        raise NotImplementedError

    def trace_extra(self, spark, tracer) -> dict:
        """Per-layer values measured outside the timed region."""
        return {}

    def close(self) -> None:
        pass


def _index_rows(cell_dir: str) -> int:
    con = oracle.connect()
    try:
        return con.execute(f"SELECT count(*) FROM read_parquet('{cell_dir}/*.parquet')").fetchone()[0]
    finally:
        con.close()


def _expected_path(data: str) -> str:
    return os.path.join(data, "expected.json")


# ------------------------------------------------------------------ ingest

class Ingest(Workload):
    """scan -> metadata_from_corpus(bounding_box) -> extents_df ->
    write_cell_index + write_centroid_index, uncached between passes."""

    name = "ingest"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.docs_per_pass = self.sizes.ingest_docs
        self.cell_dir = os.path.join(self.work, "ingest_idx", "cell")
        self.cent_dir = os.path.join(self.work, "ingest_idx", "cent")
        self._con = None

    def ids(self) -> np.ndarray:
        return inputs.sample_ids(self.seed, 1, self.sizes.pool_docs, self.sizes.ingest_docs)

    def generate(self, pool: str | None) -> None:
        inputs.corpus_sample(pool, self.ids(), os.path.join(self.data, "corpus.parquet"))
        con = oracle.connect()
        oracle.register_docs(con, self.ids())
        oracle.ingest_expected(con)
        for t in ("exp_cell", "exp_large", "exp_cent"):
            con.execute(f"COPY {t} TO '{self.data}/{t}.parquet' (FORMAT parquet)")
        n_parts = con.execute("SELECT count(*) FROM parts").fetchone()[0]
        con.close()
        with open(_expected_path(self.data), "w") as fh:
            json.dump({"extents_rows": n_parts}, fh)

    def load(self, spark) -> None:
        self.corpus = spark.read.parquet(os.path.join(self.data, "corpus.parquet")).drop("parent")
        with open(_expected_path(self.data)) as fh:
            self.expected = json.load(fh)
        self.close()
        self._con = oracle.connect()
        for t in ("exp_cell", "exp_large", "exp_cent"):
            self._con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )

    def run_pass(self, spark, tracer) -> dict:
        from gmx import pipeline as P
        from gmx.geometry import extents_df, write_cell_index, write_centroid_index

        with tracer.span("gmx:extract"):
            meta = P.metadata_from_corpus(self.corpus, persist=False, props={"bounding_box"})
            ext = extents_df(meta).persist()
            n_ext = ext.count()
        with tracer.span("gmx:write_cell_index"):
            write_cell_index(ext, "bench_ingest_cell", self.cell_dir, buckets=INDEX_BUCKETS)
        with tracer.span("gmx:write_centroid_index"):
            write_centroid_index(ext, "bench_ingest_cent", self.cent_dir, buckets=INDEX_BUCKETS)
        ext.unpersist()
        return {"extents_rows": n_ext}

    def check(self, out: dict) -> dict[str, bool]:
        # both index writes are checked together: the tables are re-read
        # from disk and compared row for row with the expected ones
        ok_index = oracle.ingest_mismatches(self._con, self.cell_dir, self.cent_dir) == 0
        return {
            "extract": out["extents_rows"] == self.expected["extents_rows"],
            "write_cell_index": ok_index,
            "write_centroid_index": ok_index,
        }

    def corrupt(self, what: str) -> None:
        self.expected["extents_rows"] += 1

    def trace_extra(self, spark, tracer) -> dict:
        return {
            "geometry.extents.rows_per_doc": self.expected["extents_rows"] / self.docs_per_pass,
            "geometry.bucketed.index_rows_per_doc": _index_rows(self.cell_dir) / self.docs_per_pass,
        }

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


# ------------------------------------------------------------------- serve

class Serve(Workload):
    """Overlap, PIP, kNN and tile joins served from the bucketed index."""

    name = "serve"
    OPS = ("overlap", "pip", "knn", "tile")

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.docs_per_pass = self.sizes.serve_docs
        self.cell_dir = os.path.join(self.work, "serve_idx", "cell")
        self.cent_dir = os.path.join(self.work, "serve_idx", "cent")

    def generate(self, pool: str | None) -> None:
        inputs.serve_tables(self.seed, self.sizes, self.data)
        con = oracle.connect()
        expected = oracle.serve_expected(con, self.data)
        con.close()
        with open(_expected_path(self.data), "w") as fh:
            json.dump(expected, fh)

    def load(self, spark) -> None:
        read = lambda f: spark.read.parquet(os.path.join(self.data, f))  # noqa: E731
        self.extents = read("extents.parquet")
        self.points = read("points.parquet").cache()
        self.knn_points = read("knn_points.parquet").cache()
        self.tiles = read("tiles.parquet").cache()
        for df in (self.points, self.knn_points, self.tiles):
            df.count()
        with open(_expected_path(self.data)) as fh:
            self.expected = json.load(fh)

    def prepare(self, spark, tracer) -> None:
        from gmx.geometry import write_cell_index, write_centroid_index

        with tracer.span("gmx:write_cell_index"):
            write_cell_index(self.extents, "bench_serve_cell", self.cell_dir, buckets=INDEX_BUCKETS)
        with tracer.span("gmx:write_centroid_index"):
            write_centroid_index(self.extents, "bench_serve_cent", self.cent_dir, buckets=INDEX_BUCKETS)

    def run_pass(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from gmx.geometry.bucketed import (
            bbox_overlap_pairs_from_index,
            knn_from_index,
            point_in_bbox_from_index,
            tile_extent_join_from_index,
        )
        from gmx.geometry.joins import release_knn_caches

        def doc(c):
            return F.expr(f"substr({c}, 5)")

        out = {}
        with tracer.span("gmx:overlap"):
            out["overlap"] = oracle.spark_digest(
                bbox_overlap_pairs_from_index(spark, "bench_serve_cell"), [doc("a_id"), doc("b_id")]
            )
        with tracer.span("gmx:pip"):
            out["pip"] = oracle.spark_digest(
                point_in_bbox_from_index(spark, self.points, "bench_serve_cell"),
                [F.col("point_id"), doc("doc_id")],
            )
        with tracer.span("gmx:knn"):
            out["knn"] = oracle.spark_digest(
                knn_from_index(spark, self.knn_points, "bench_serve_cent"),
                [F.col("point_id"), F.col("rank"), doc("doc_id")],
            )
            release_knn_caches()
        with tracer.span("gmx:tile"):
            parts = F.split(F.col("tile_id"), "-")
            out["tile"] = oracle.spark_digest(
                tile_extent_join_from_index(spark, self.tiles, "bench_serve_cell"),
                [parts.getItem(1).cast("long") * 1024 + parts.getItem(2).cast("long"), doc("doc_id")],
            )
        return out

    def check(self, out: dict) -> dict[str, bool]:
        return {op: out[op] == self.expected[op] for op in self.OPS}

    def corrupt(self, what: str) -> None:
        self.expected[what][0] += 1

    def trace_extra(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from gmx.geometry import tier_stats

        large = tier_stats(self.extents).filter(F.col("is_large")).agg(F.sum("n_extents")).first()[0]
        return {
            "geometry.joins.large_tier_rows": large or 0,
            "geometry.bucketed.index_rows_per_doc": _index_rows(self.cell_dir) / self.docs_per_pass,
        }


# ------------------------------------------------------------------ curate

class Curate(Workload):
    """update_corpus_df of every document with an edited title, then
    minhash_pairs -> dup_clusters, decontaminate_ngrams and cosine_topk
    (the curate probe of a traced ingest run)."""

    name = "curate"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.meta = None
        self._con = None

    def generate(self, pool: str | None) -> None:
        ids = inputs.sample_ids(self.seed, 5, self.sizes.pool_docs, self.sizes.curate_update_docs)
        inputs.corpus_sample(pool, ids, os.path.join(self.data, "update.parquet"))
        planted = inputs.curate_tables(self.seed, self.sizes, self.data)
        con = oracle.connect()
        oracle.curate_setup(con, self.data)
        expected = {
            "planted": planted,
            "update": sorted(oracle.update_expected(con, self.data)),
            "decontaminate": sorted(oracle.decontaminate_expected(con, self.data)),
            "cosine": sorted(oracle.cosine_expected(con, self.data)),
        }
        con.close()
        with open(_expected_path(self.data), "w") as fh:
            json.dump(expected, fh)

    def load(self, spark) -> None:
        read = lambda f: spark.read.parquet(os.path.join(self.data, f))  # noqa: E731
        self.corpus = read("update.parquet").drop("parent")
        self.texts = read("texts.parquet").cache()
        self.eval_docs = read("eval.parquet").cache()
        self.embeddings = read("embeddings.parquet").cache()
        for df in (self.texts, self.eval_docs, self.embeddings):
            df.count()
        with open(_expected_path(self.data)) as fh:
            exp = json.load(fh)
        self.planted = {tuple(p) for p in exp["planted"]}
        self.expected = {k: {tuple(r) for r in exp[k]} for k in ("update", "decontaminate", "cosine")}
        self.close()
        self._con = oracle.connect()
        oracle.curate_setup(self._con, self.data)

    def prepare(self, spark, tracer) -> None:
        from gmx import pipeline as P

        if self.meta is not None:
            self.meta.unpersist()
        with tracer.span("gmx:extract"):
            self.meta = P.metadata_from_corpus(self.corpus, persist=False).persist()
            self.meta.count()

    def run_pass(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from gmx.textops import cosine_topk, decontaminate_ngrams, dup_clusters, minhash_pairs
        from gmx.update import update_corpus_df

        out = {}
        edited = self.meta.withColumn("title", F.concat("title", F.lit(" v2")))
        with tracer.span("gmx:update"):
            upd = update_corpus_df(self.corpus, edited)
            out["update"] = [tuple(r) for r in oracle.spark_update_signature(upd).collect()]
        with tracer.span("gmx:minhash"):
            pairs = minhash_pairs(self.texts, threshold=oracle.THRESHOLD_PER_MILLE / 1000)
            out["minhash"] = [tuple(r) for r in pairs.collect()]
        with tracer.span("gmx:dup_clusters"):
            pairs_df = spark.createDataFrame(
                [(a, b) for a, b, _ in out["minhash"]], "a_id long, b_id long"
            )
            out["dup_clusters"] = [tuple(r) for r in dup_clusters(pairs_df).collect()]
        with tracer.span("gmx:decontaminate"):
            out["decontaminate"] = [
                tuple(r) for r in decontaminate_ngrams(self.texts, self.eval_docs).collect()
            ]
        with tracer.span("gmx:cosine"):
            out["cosine"] = [tuple(r) for r in cosine_topk(self.embeddings).collect()]
        return out

    def check(self, out: dict) -> dict[str, bool]:
        got = {(a, b): j for a, b, j in out["minhash"]}
        exact = oracle.jaccard_per_mille(self._con, list(got))
        precise = all(
            exact.get(p) == j and j >= oracle.THRESHOLD_PER_MILLE for p, j in got.items()
        )
        return {
            "update": set(out["update"]) == self.expected["update"],
            "minhash": precise and self.planted <= set(got),
            "dup_clusters": set(out["dup_clusters"]) == oracle.components(self._con, list(got)),
            "decontaminate": set(out["decontaminate"]) == self.expected["decontaminate"],
            "cosine": set(out["cosine"]) == self.expected["cosine"],
        }

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
