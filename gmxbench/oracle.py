"""DuckDB oracles for every benchmarked operation.

Each oracle recomputes an operation's answer from the generated inputs in
integer arithmetic (coordinates in half degrees, tile footprints in 1/64
degrees), never through ``gmx``.  Large results are compared as a digest
(row count plus two sums of a per-row hash, the same arithmetic in Spark and
DuckDB); small ones are compared row for row.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

from inputs import bbox_halfdeg_array

HASH_MOD = 2_147_483_647  # 2^31 - 1
HASH_MUL = 1_000_003
LEVEL = 4            # covering-index grid level (gmx.geometry.cellgrid default)
LARGE_CAP = 64       # coverings above this many cells go to the large tier
CENT_LEVEL = 6       # centroid-index grid level
CELL_BASE = 1 << 28
K = 5                # kNN neighbours
THRESHOLD_PER_MILLE = 500


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def digest_sql(keys: list[str], table: str) -> str:
    """count, sum(h), sum(h*h mod p) of the row hash h = fold(keys)."""

    h = "0::BIGINT"
    for k in keys:
        h = f"(({h}) * {HASH_MUL} + ({k})) % {HASH_MOD}"
    return (
        f"SELECT count(*)::BIGINT, coalesce(sum(h), 0)::BIGINT, "
        f"coalesce(sum(h * h % {HASH_MOD}), 0)::BIGINT FROM (SELECT {h} AS h FROM {table})"
    )


def spark_digest(df, keys: list):
    """The same digest as :func:`digest_sql`, as one Spark aggregate row."""

    from pyspark.sql import functions as F

    p = F.lit(HASH_MOD).cast("long")
    h = F.lit(0).cast("long")
    for k in keys:
        h = F.pmod(h * F.lit(HASH_MUL).cast("long") + k.cast("long"), p)
    row = df.select(h.alias("h")).agg(
        F.count("*").cast("long"),
        F.coalesce(F.sum("h"), F.lit(0)).cast("long"),
        F.coalesce(F.sum(F.pmod(F.col("h") * F.col("h"), p)), F.lit(0)).cast("long"),
    ).first()
    return [int(v) for v in row]


def _ix(v: str, level: int, unit_per_deg: int) -> str:
    """Grid column of a longitude given in 1/unit_per_deg degrees."""

    n = 1 << level
    return f"least({n - 1}, greatest(0, (({v}) + {180 * unit_per_deg}) * {n} // {360 * unit_per_deg}))"


def _iy(v: str, level: int, unit_per_deg: int) -> str:
    n = 1 << level
    return f"least({n - 1}, greatest(0, (({v}) + {90 * unit_per_deg}) * {n} // {180 * unit_per_deg}))"


def _cell(level: int, ix: str, iy: str) -> str:
    return f"(({level}::BIGINT * {CELL_BASE} + ({ix})) * {CELL_BASE} + ({iy}))"


def register_docs(con: duckdb.DuckDBPyConnection, ids: np.ndarray) -> None:
    """``docs`` (id, wh, sh, eh, nh) and ``parts`` (antimeridian split, as
    extents_df does it) for integer doc ids."""

    w, s, e, n = bbox_halfdeg_array(ids)
    con.register("docs_arrow", pa.table({"id": ids.astype(np.int64), "wh": w, "sh": s, "eh": e, "nh": n}))
    con.execute("CREATE OR REPLACE TABLE docs AS SELECT * FROM docs_arrow")
    con.execute("""
CREATE OR REPLACE TABLE parts AS
SELECT id, wh, sh, eh, nh, 0 AS part, false AS split FROM docs WHERE wh <= eh
UNION ALL SELECT id, wh, sh, 360, nh, 0, true FROM docs WHERE wh > eh
UNION ALL SELECT id, -360, sh, eh, nh, 1, true FROM docs WHERE wh > eh""")


# ------------------------------------------------------------------ ingest

def ingest_expected(con: duckdb.DuckDBPyConnection) -> None:
    """Expected rows of the three index tables built from ``parts``."""

    ix0, ix1 = _ix("wh", LEVEL, 2), _ix("eh", LEVEL, 2)
    iy0, iy1 = _iy("sh", LEVEL, 2), _iy("nh", LEVEL, 2)
    con.execute(f"""
CREATE OR REPLACE TABLE tiered AS
SELECT *, ({ix1} - {ix0} + 1) * ({iy1} - {iy0} + 1) > {LARGE_CAP} OR split AS is_large,
       {ix0} AS ix0, {ix1} AS ix1, {iy0} AS iy0, {iy1} AS iy1
FROM parts""")
    con.execute(f"""
CREATE OR REPLACE TABLE exp_cell AS
SELECT id, UNNEST(flatten([[{_cell(LEVEL, 'ix', 'iy')} for iy in range(iy0, iy1 + 1)]
                           for ix in range(ix0, ix1 + 1)])) AS cell
FROM tiered WHERE NOT is_large""")
    con.execute("""
CREATE OR REPLACE TABLE exp_large AS
SELECT id, wh, sh, eh, nh, split FROM tiered WHERE is_large""")
    cx = _ix("wh + eh", CENT_LEVEL, 4)
    cy = _iy("sh + nh", CENT_LEVEL, 4)
    con.execute(f"""
CREATE OR REPLACE TABLE exp_cent AS
SELECT id, wh + eh AS cxq, sh + nh AS cyq, {_cell(CENT_LEVEL, cx, cy)} AS cell
FROM parts WHERE part = 0""")


def ingest_mismatches(con: duckdb.DuckDBPyConnection, cell_dir: str, cent_dir: str) -> int:
    """Rows that differ (either direction) between the written index tables
    and the expected ones."""

    doc = "CAST(substr(doc_id, 5) AS BIGINT)"
    actual = {
        "cell": f"SELECT {doc} AS id, cell FROM read_parquet('{cell_dir}/*.parquet')",
        "large": (
            f"SELECT {doc} AS id, CAST(west * 2 AS BIGINT), CAST(south * 2 AS BIGINT), "
            f"CAST(east * 2 AS BIGINT), CAST(north * 2 AS BIGINT), split "
            f"FROM read_parquet('{cell_dir}_large/*.parquet')"
        ),
        "cent": (
            f"SELECT {doc} AS id, CAST(cx * 4 AS BIGINT), CAST(cy * 4 AS BIGINT), cell "
            f"FROM read_parquet('{cent_dir}/*.parquet')"
        ),
    }
    bad = 0
    for name, sql in actual.items():
        exp = f"SELECT * FROM exp_{name}"
        for a, b in ((sql, exp), (exp, sql)):
            bad += con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    return bad


# ------------------------------------------------------------------- serve

def serve_expected(con: duckdb.DuckDBPyConnection, work: str) -> dict[str, list[int]]:
    """Digests of the four serving joins, from the generated parquet."""

    con.execute(f"""
CREATE OR REPLACE TABLE parts AS
SELECT CAST(substr(doc_id, 5) AS BIGINT) AS id, CAST(west * 2 AS BIGINT) AS wh,
       CAST(south * 2 AS BIGINT) AS sh, CAST(east * 2 AS BIGINT) AS eh,
       CAST(north * 2 AS BIGINT) AS nh, part
FROM read_parquet('{work}/extents.parquet')""")
    con.execute(f"""
CREATE OR REPLACE TABLE pts AS
SELECT point_id, CAST(lon * 2 AS BIGINT) AS xh, CAST(lat * 2 AS BIGINT) AS yh
FROM read_parquet('{work}/points.parquet')""")
    con.execute(f"""
CREATE OR REPLACE TABLE kpts AS
SELECT point_id, CAST(lon * 2 AS BIGINT) AS xh, CAST(lat * 2 AS BIGINT) AS yh
FROM read_parquet('{work}/knn_points.parquet')""")
    con.execute(f"""
CREATE OR REPLACE TABLE tiles AS
SELECT x, y, z, (-180 + x * 360.0 / (1 << z)) * 64 AS tw, (-180 + (x + 1) * 360.0 / (1 << z)) * 64 AS te,
       (-90 + y * 180.0 / (1 << z)) * 64 AS ts, (-90 + (y + 1) * 180.0 / (1 << z)) * 64 AS tn
FROM read_parquet('{work}/tiles.parquet')""")
    out = {}
    con.execute("""
CREATE OR REPLACE TEMP VIEW v_overlap AS
SELECT DISTINCT a.id AS a, b.id AS b FROM parts a JOIN parts b
  ON a.id < b.id AND a.wh <= b.eh AND b.wh <= a.eh AND a.sh <= b.nh AND b.sh <= a.nh""")
    out["overlap"] = list(con.execute(digest_sql(["a", "b"], "v_overlap")).fetchone())
    con.execute("""
CREATE OR REPLACE TEMP VIEW v_pip AS
SELECT DISTINCT p.point_id AS p, e.id AS d FROM pts p JOIN parts e
  ON e.wh <= p.xh AND p.xh <= e.eh AND e.sh <= p.yh AND p.yh <= e.nh""")
    out["pip"] = list(con.execute(digest_sql(["p", "d"], "v_pip")).fetchone())
    con.execute(f"""
CREATE OR REPLACE TEMP VIEW v_knn AS
SELECT point_id AS p, rank AS r, id AS d FROM (
  SELECT k.point_id, e.id, row_number() OVER (
           PARTITION BY k.point_id
           ORDER BY (2 * k.xh - (e.wh + e.eh)) * (2 * k.xh - (e.wh + e.eh))
                  + (2 * k.yh - (e.sh + e.nh)) * (2 * k.yh - (e.sh + e.nh)), e.id) AS rank
  FROM kpts k CROSS JOIN (SELECT * FROM parts WHERE part = 0) e
) WHERE rank <= {K}""")
    out["knn"] = list(con.execute(digest_sql(["p", "r", "d"], "v_knn")).fetchone())
    con.execute("""
CREATE OR REPLACE TEMP VIEW v_tile AS
SELECT DISTINCT t.x * 1024 + t.y AS t, e.id AS d FROM tiles t JOIN parts e
  ON t.tw <= e.eh * 32 AND e.wh * 32 <= t.te AND t.ts <= e.nh * 32 AND e.sh * 32 <= t.tn""")
    out["tile"] = list(con.execute(digest_sql(["t", "d"], "v_tile")).fetchone())
    return out


# ------------------------------------------------------------------ curate

_SHINGLES = """CASE WHEN len(words) >= 3
     THEN list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)])
     ELSE [array_to_string(words, ' ')] END"""


def curate_setup(con: duckdb.DuckDBPyConnection, work: str) -> None:
    con.execute(f"""
CREATE OR REPLACE TABLE sh AS
SELECT doc_id, {_SHINGLES} AS sh
FROM (SELECT doc_id, string_split(text, ' ') AS words FROM read_parquet('{work}/texts.parquet'))""")


def jaccard_per_mille(con: duckdb.DuckDBPyConnection, pairs: list[tuple[int, int]]) -> dict:
    """Exact shingle Jaccard (per mille, floored) of each given pair."""

    if not pairs:
        return {}
    con.register("pairs_arrow", pa.table({"a": [p[0] for p in pairs], "b": [p[1] for p in pairs]}))
    rows = con.execute("""
SELECT p.a, p.b,
       CAST(len(list_intersect(x.sh, y.sh)) * 1000
            // (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) AS BIGINT)
FROM pairs_arrow p JOIN sh x ON x.doc_id = p.a JOIN sh y ON y.doc_id = p.b""").fetchall()
    return {(a, b): j for a, b, j in rows}


def components(con: duckdb.DuckDBPyConnection, pairs: list[tuple[int, int]]) -> set:
    """(doc_id, smallest doc_id of its component) over the pair graph."""

    if not pairs:
        return set()
    con.register("cpairs", pa.table({"a": [p[0] for p in pairs], "b": [p[1] for p in pairs]}))
    rows = con.execute("""
WITH RECURSIVE eg AS (SELECT a AS src, b AS dst FROM cpairs UNION SELECT b, a FROM cpairs),
reach(src, dst) AS (
  SELECT src, dst FROM eg
  UNION
  SELECT r.src, e.dst FROM reach r JOIN eg e ON r.dst = e.src)
SELECT src, least(src, min(dst)) FROM reach GROUP BY src""").fetchall()
    return {(a, b) for a, b in rows}


def decontaminate_expected(con: duckdb.DuckDBPyConnection, work: str) -> set:
    rows = con.execute(f"""
WITH ev AS (
  SELECT DISTINCT UNNEST({_SHINGLES}) AS g
  FROM (SELECT string_split(text, ' ') AS words FROM read_parquet('{work}/eval.parquet'))),
tr AS (SELECT doc_id, UNNEST(sh) AS g FROM sh),
hits AS (SELECT doc_id, count(*) AS n FROM tr JOIN ev USING (g) GROUP BY doc_id)
SELECT s.doc_id, coalesce(h.n, 0)::BIGINT, (coalesce(h.n, 0) > 0)::BIGINT
FROM sh s LEFT JOIN hits h USING (doc_id)""").fetchall()
    return set(rows)


def cosine_expected(con: duckdb.DuckDBPyConnection, work: str, query_mod: int = 100) -> set:
    rows = con.execute(f"""
WITH q AS (
  SELECT vec_id, [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
                  for i in range(1, len(embedding) + 1)] AS v
  FROM read_parquet('{work}/embeddings.parquet')),
n AS (SELECT vec_id, v, CAST(list_sum([x * x for x in v]) AS BIGINT) AS nrm FROM q),
p AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         CAST(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) AS BIGINT) AS dot,
         a.nrm AS qn, b.nrm AS nn
  FROM n a JOIN n b ON a.vec_id % {query_mod} = 0 AND b.vec_id <> a.vec_id)
SELECT qid, rank, nid FROM (
  SELECT qid, nid, row_number() OVER (
           PARTITION BY qid
           ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qn * nn AS DOUBLE)) DESC, nid) AS rank
  FROM p) WHERE rank <= {K}""").fetchall()
    return set(rows)


UPDATE_TAG_RE = "<([^/!?][^>]*)>"    # open tags, attributes included
UPDATE_TEXT_RE = ">([^<]+)<"         # text nodes


def update_expected(con: duckdb.DuckDBPyConnection, work: str) -> set:
    """(doc_id, md5 of the document's sorted open tags and sorted text
    nodes, length, media refs) after the title edit.  Each metadata document
    gains ' v2' on its title; update rewrites managed elements in its own
    order, so tags and texts are compared as sorted lists.  Catalog rows
    pass through unchanged."""

    rows = con.execute(f"""
WITH d AS (
  SELECT doc_id,
         array_to_string([s.text for s in spans if s.kind = 'text'], '') AS xml,
         coalesce(array_to_string([s.media_ref for s in spans if s.kind = 'media'], ','), '')
           AS media
  FROM read_parquet('{work}/update.parquet')),
e AS (
  SELECT doc_id, media,
         CASE WHEN doc_id LIKE 'doc-%'
              THEN replace(xml, '>Dataset ' || CAST(substr(doc_id, 5) AS BIGINT) || '<',
                           '>Dataset ' || CAST(substr(doc_id, 5) AS BIGINT) || ' v2<')
              ELSE xml END AS xml
  FROM d)
SELECT doc_id,
       md5(array_to_string(list_sort(regexp_extract_all(xml, '{UPDATE_TAG_RE}', 1)), chr(1))
           || chr(2) ||
           array_to_string(list_sort(regexp_extract_all(xml, '{UPDATE_TEXT_RE}', 1)), chr(1))),
       length(xml),
       media
FROM e""").fetchall()
    return set(rows)


def spark_update_signature(df):
    """The same (doc_id, md5, length, media) rows as :func:`update_expected`,
    computed by Spark over update_corpus_df's output."""

    from pyspark.sql import functions as F

    xml = F.array_join(F.transform(F.filter("spans", lambda s: s["kind"] == "text"),
                                   lambda s: s["text"]), "")
    media = F.array_join(F.transform(F.filter("spans", lambda s: s["kind"] == "media"),
                                     lambda s: s["media_ref"]), ",")

    def sorted_matches(pattern: str):
        return F.array_join(F.array_sort(F.regexp_extract_all("xml", F.lit(pattern), F.lit(1))),
                            "\x01")

    return (
        df.select("doc_id", xml.alias("xml"), media.alias("media"))
        .select(
            "doc_id",
            F.md5(F.concat(sorted_matches(UPDATE_TAG_RE), F.lit("\x02"),
                           sorted_matches(UPDATE_TEXT_RE))),
            F.length("xml").cast("long"),
            "media",
        )
    )
