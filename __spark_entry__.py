"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (BASELINE.json: docs → media_ref→tile
resolution → PIP join against broadcast polygons → zonal stats per (zone, doc))
on sf0.001. ``queries()``/``oracle_sql()`` expose the engine's operators over the
driver's parquet tables with DuckDB-verifiable semantics.

Shared fixture: the "lineitem raster" — a deterministic 64×64 grid derived from
lineitem (row = l_partkey % 64, col = l_suppkey % 64, value = sum(l_quantity)),
cell 8.0 m, world 512×512 (EPSG:2193-style projected plane), tiles 16×16. All
raster operators run on real tile DataFrames; oracles recompute the same
semantics in ANSI SQL on the cell level.

Float discipline for the value-hash comparison: integer-valued doubles are exact
in both engines; every genuinely fractional aggregate is rounded (4-6 dp) on BOTH
sides; distances/scores use plain multiplication + IEEE sqrt (exactly rounded →
bit-identical), with deterministic tie-breaks.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import rastr_spark  # noqa: F401 — attaches operator surface
from rastr_spark.functions import dedup as D
from rastr_spark.functions import similarity as S
from rastr_spark.functions import text as TXT
from rastr_spark.functions.multimodal import (
    audio_features,
    decoded_pixels,
    decoded_samples,
    image_features,
    synthesize_media,
    synthesize_media_lossless,
)
from rastr_spark.geometry import Geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.operators.joins import knn_join, mosaic, zonal_stats
from rastr_spark.operators.vectorize import contour_segments
from rastr_spark.plans.flagship import doc_zonal_stats
from rastr_spark.sources.documents import generate_documents
from rastr_spark.tiles import RasterFrame

# Oracle artifacts (Spark-materialized inputs the DuckDB twins replay from) live
# under ONE fixed directory by default, so oracle_sql() is byte-stable across
# processes and a harness that runs the Spark queries and the DuckDB oracles in
# separate processes finds the same paths. Concurrent harness runs must each
# point RASTR_SPARK_ORACLE_ART_DIR at their own dir, or they overwrite each
# other's artifacts mid-comparison.
import atexit as _atexit
import functools as _functools
import os as _os
import shutil as _shutil
import tempfile as _tempfile

_ORACLE_ART_DIR = _os.environ.get("RASTR_SPARK_ORACLE_ART_DIR") or _os.path.join(
    _tempfile.gettempdir(), "rastr_spark_oracle"
)


@_functools.cache
def _remove_art_dir_at_exit() -> None:
    _atexit.register(_shutil.rmtree, _ORACLE_ART_DIR, ignore_errors=True)


def _art(name: str) -> str:
    """Path of oracle artifact ``name``, for a query about to write it. Only a
    process that writes artifacts removes the directory at exit — one that
    merely imports this module (e.g. to read oracle_sql()) must not delete
    another process's inputs; without the cleanup every writing run would leak
    its parquet artifacts into the temp dir."""
    _remove_art_dir_at_exit()
    return f"{_ORACLE_ART_DIR}/{name}"


GRID = 64
CELL = 8.0
WORLD = GRID * CELL  # 512.0
TILE = 16
META = RasterMeta(CELL, "EPSG:2193", Affine(CELL, 0, 0, 0, -CELL, WORLD), GRID, GRID, tile_size=TILE)

_CELLS_SQL = f"""
  SELECT l_partkey % {GRID} AS row, l_suppkey % {GRID} AS col,
         sum(l_quantity) AS value
  FROM lineitem GROUP BY 1, 2
"""

def _toks_sql(src: str) -> str:
    return f"""
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts FROM {src}
"""


def _grams_sql(src: str) -> str:
    """Distinct word-3-grams per doc — the SQL twin of word_ngrams(text, 3),
    parameterized on the doc source (documents view or a derived CTE)."""
    return f"""
  SELECT DISTINCT doc_id, array_to_string(ts[g:g+2], ' ') AS gram
  FROM (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 2))) AS g FROM ({_toks_sql(src)}))
  WHERE len(ts) >= 3
"""


_TOKS_SQL = _toks_sql("documents")
_GRAMS_SQL = _grams_sql("documents")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _lineitem_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_partkey") % GRID).cast("int").alias("row"),
            (F.col("l_suppkey") % GRID).cast("int").alias("col"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )


def _lineitem_raster(spark: SparkSession, sf_dir: str) -> RasterFrame:
    return RasterFrame.from_cells(_lineitem_cells(spark, sf_dir), META, raster_id="li")


def _nonnan_cells(rf: RasterFrame) -> DataFrame:
    return rf.cells(drop_nan=True)


# ---------------------------------------------------------------------------
# entry: flagship smoke on sf0.001
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    rf = _lineitem_raster(spark, sf_dir)
    docs = generate_documents(
        spark, 500, seed=42, n_tile_rows=META.n_tile_rows, n_tile_cols=META.n_tile_cols,
        raster_id="li", world_size=WORLD,
    )
    zones = [
        ("nw", Geometry.box(0, 256, 256, 512)),
        ("ne", Geometry.box(256, 256, 512, 512)),
        ("sw", Geometry.box(0, 0, 256, 256)),
        ("se", Geometry.box(256, 0, 512, 512)),
        ("tri", Geometry.polygon([(0, 0), (513, 0), (0, 513)])),
    ]
    return doc_zonal_stats(docs, rf, zones, salt_threshold=100)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q_raster_stats(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    v = F.col("value")
    n, s = F.count(v), F.sum(v)
    return _nonnan_cells(rf).agg(
        n.alias("n_cells"),
        s.alias("sum_v"),
        F.round(s / n, 6).alias("mean_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.round(F.stddev_pop(v), 6).alias("std_v"),
    )


_ORACLE_RASTER_STATS = f"""
WITH cells AS ({_CELLS_SQL})
SELECT count(value) AS n_cells, sum(value) AS sum_v,
       round(sum(value) / count(value), 6) AS mean_v,
       min(value) AS min_v, max(value) AS max_v,
       round(stddev_pop(value), 6) AS std_v
FROM cells
"""


_ZONES = [
    ("nw", (0.0, 256.0, 256.0, 512.0)),
    ("ne", (256.0, 256.0, 512.0, 512.0)),
    ("sw", (0.0, 0.0, 256.0, 256.0)),
    ("se", (256.0, 0.0, 512.0, 256.0)),
]


def _q_zonal_stats(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    zones = [(zid, Geometry.box(*bb)) for zid, bb in _ZONES]
    zones.append(("tri", Geometry.polygon([(0, 0), (513, 0), (0, 513)])))
    out = zonal_stats(rf, zones)
    return out.select(
        "zone_id",
        F.col("count").alias("n_cells"),
        F.col("sum").alias("sum_v"),
        F.col("min").alias("min_v"),
        F.col("max").alias("max_v"),
        F.round("mean", 6).alias("mean_v"),
        F.round("std", 6).alias("std_v"),
    )


_ORACLE_ZONAL = f"""
WITH cells AS ({_CELLS_SQL}),
cent AS (SELECT row, col, value, col*8 + 4.0 AS x, 512.0 - row*8 - 4.0 AS y FROM cells),
zones AS (
  SELECT 'nw' AS zone_id, 0.0 xmin, 256.0 ymin, 256.0 xmax, 512.0 ymax UNION ALL
  SELECT 'ne', 256.0, 256.0, 512.0, 512.0 UNION ALL
  SELECT 'sw', 0.0, 0.0, 256.0, 256.0 UNION ALL
  SELECT 'se', 256.0, 0.0, 512.0, 256.0
),
boxed AS (
  SELECT z.zone_id, c.value FROM cent c JOIN zones z
  ON c.x > z.xmin AND c.x < z.xmax AND c.y > z.ymin AND c.y < z.ymax
  UNION ALL
  SELECT 'tri', value FROM cent WHERE x > 0 AND y > 0 AND x + y < 513
)
SELECT zone_id, count(*) AS n_cells, sum(value) AS sum_v, min(value) AS min_v, max(value) AS max_v,
       round(sum(value)/count(*), 6) AS mean_v,
       round(stddev_pop(value), 6) AS std_v
FROM boxed GROUP BY zone_id
"""


def _q_raster_add(spark, sf_dir):
    a = _lineitem_raster(spark, sf_dir)
    b_cells = (
        _read(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_partkey") % GRID).cast("int").alias("row"),
            (F.col("l_suppkey") % GRID).cast("int").alias("col"),
        )
        .agg(F.sum("l_linenumber").alias("value"))
    )
    b = RasterFrame.from_cells(b_cells, META, raster_id="li2")
    return _nonnan_cells(a + b)


_ORACLE_RASTER_ADD = f"""
WITH a AS ({_CELLS_SQL}),
b AS (SELECT l_partkey % {GRID} AS row, l_suppkey % {GRID} AS col, sum(l_linenumber) AS value
      FROM lineitem GROUP BY 1, 2)
SELECT a.row AS row, a.col AS col, a.value + b.value AS value
FROM a JOIN b ON a.row = b.row AND a.col = b.col
"""


def _q_sample_points(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    pts = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        ((F.col("o_orderkey") % 512) + 0.5).cast("double").alias("x"),
        (((F.col("o_custkey") * 7) % 512) + 0.5).cast("double").alias("y"),
    )
    out = rf.sample_df(pts)
    return out.select(
        "o_orderkey", "x", "y", F.when(F.isnan("value"), F.lit(-1.0)).otherwise(F.col("value")).alias("value")
    )


_ORACLE_SAMPLE = f"""
WITH cells AS ({_CELLS_SQL}),
pts AS (SELECT o_orderkey, ((o_orderkey % 512) + 0.5)::double AS x, (((o_custkey * 7) % 512) + 0.5)::double AS y FROM orders)
SELECT p.o_orderkey AS o_orderkey, p.x AS x, p.y AS y, coalesce(c.value, -1.0) AS value
FROM pts p LEFT JOIN cells c
ON c.col = CAST(floor(p.x / 8) AS INT) AND c.row = CAST(floor((512.0 - p.y) / 8) AS INT)
"""


def _q_mosaic(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    a_cells = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(
            (F.col("l_partkey") % GRID).cast("int").alias("row"),
            (F.col("l_suppkey") % GRID).cast("int").alias("col"),
        )
        .agg((F.sum("l_quantity") * 1000).alias("value"))
    )
    a = RasterFrame.from_cells(a_cells, META, raster_id="a")
    b = _lineitem_raster(spark, sf_dir)
    return _nonnan_cells(mosaic([a, b]))


_ORACLE_MOSAIC = f"""
WITH a AS (
  SELECT l_partkey % {GRID} AS row, l_suppkey % {GRID} AS col, sum(l_quantity) * 1000 AS value
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2
),
b AS ({_CELLS_SQL})
SELECT coalesce(a.row, b.row) AS row, coalesce(a.col, b.col) AS col,
       coalesce(a.value, b.value) AS value
FROM a FULL OUTER JOIN b ON a.row = b.row AND a.col = b.col
"""


def _q_quantiles(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    v = rf.cells(drop_nan=True)
    return v.agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
    )


_ORACLE_QUANTILES = f"""
WITH cells AS ({_CELLS_SQL})
SELECT round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM cells
"""


def _q_crop(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    return rf.crop((64.0, 64.0, 448.0, 448.0)).cells(drop_nan=True)


_ORACLE_CROP = f"""
WITH cells AS ({_CELLS_SQL})
SELECT row - 8 AS row, col - 8 AS col, value
FROM cells WHERE row BETWEEN 8 AND 55 AND col BETWEEN 8 AND 55
"""


def _q_vectorize(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    c = rf.cells(drop_nan=True)
    x = (F.col("col") * CELL + CELL / 2).alias("x")
    y = (F.lit(WORLD) - F.col("row") * CELL - CELL / 2).alias("y")
    return c.select(
        "row", "col", x, y,
        (F.col("col") * CELL).alias("xmin"),
        (F.lit(WORLD) - (F.col("row") + 1) * CELL).alias("ymin"),
        ((F.col("col") + 1) * CELL).alias("xmax"),
        (F.lit(WORLD) - F.col("row") * CELL).alias("ymax"),
        "value",
    )


_ORACLE_VECTORIZE = f"""
WITH cells AS ({_CELLS_SQL})
SELECT row, col, (col*8 + 4.0)::double AS x, (512.0 - row*8 - 4.0)::double AS y,
       (col*8.0)::double AS xmin, (512.0 - (row+1)*8.0)::double AS ymin,
       ((col+1)*8.0)::double AS xmax, (512.0 - row*8.0)::double AS ymax,
       value
FROM cells
"""


def _q_knn(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    cent = rf.cells(drop_nan=True).select(
        (F.col("col") * CELL + CELL / 2).alias("x"),
        (F.lit(WORLD) - F.col("row") * CELL - CELL / 2).alias("y"),
    )
    qs = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 75 == 0).select(
        F.col("c_custkey").alias("query_id"),
        (((F.col("c_custkey") * 37) % 512) + 0.25).cast("double").alias("x"),
        (((F.col("c_custkey") * 53) % 512) + 0.75).cast("double").alias("y"),
    )
    out = knn_join(cent, qs, 3, cell_size=64.0)
    return out.select(
        "query_id", "rank", F.round("distance", 4).alias("distance"),
        F.col("x_nn"), F.col("y_nn"),
    )


_ORACLE_KNN = f"""
WITH cells AS ({_CELLS_SQL}),
cent AS (SELECT (col*8 + 4.0)::double AS x, (512.0 - row*8 - 4.0)::double AS y FROM cells),
q AS (SELECT c_custkey AS query_id, (((c_custkey*37) % 512) + 0.25)::double AS x, (((c_custkey*53) % 512) + 0.75)::double AS y
      FROM customer WHERE c_custkey % 75 = 0),
d AS (SELECT q.query_id, c.x AS x_nn, c.y AS y_nn,
             sqrt((c.x - q.x)*(c.x - q.x) + (c.y - q.y)*(c.y - q.y)) AS dist
      FROM q, cent c)
SELECT query_id, rank, round(dist, 4) AS distance, x_nn, y_nn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, x_nn, y_nn) AS rank FROM d)
WHERE rank <= 3
"""


def _dup_docs(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    copy = d.filter(F.col("doc_id") < 100).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return d.select("doc_id", "text").unionByName(copy)


def _q_dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_dup_docs(spark, sf_dir)).select("canonical_id", "dup_count")


_ORACLE_DEDUP_EXACT = """
WITH alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100
)
SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
FROM alldocs GROUP BY text HAVING count(*) >= 2
"""


_JACCARD_MAX_DF = 50  # hot-gram cap, mirrored exactly in the oracle SQL below


def _q_ngram_jaccard(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(d, n=3, threshold=0.5, max_doc_freq=_JACCARD_MAX_DF)
    # raw IEEE division, NOT rounded: inter/union are exact integers in doubles,
    # so the division is bit-identical across engines — round(.,6) would
    # introduce half-tie mismatches (Spark HALF_UP vs DuckDB half-even,
    # e.g. 65/128 = 0.5078125)
    return out.select("id_a", "id_b", "jaccard")


_ORACLE_JACCARD = f"""
WITH grams0 AS ({_GRAMS_SQL}),
hot AS (SELECT gram FROM grams0 GROUP BY gram HAVING count(*) > {_JACCARD_MAX_DF}),
grams AS (SELECT * FROM grams0 WHERE gram NOT IN (SELECT gram FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM grams a JOIN grams b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b, i::double / (sa.n + sb.n - i) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
WHERE i::double / (sa.n + sb.n - i) >= 0.5
"""


# Count of docs that produce ≥1 shingle (len(ts) >= n=3) — the staleness guard
# every materialized-artifact dedup oracle checks its artifact cardinality
# against, so a missing/stale artifact fails parity loudly.
_N_SHINGLED_DOCS_SQL = f"(SELECT count(*) FROM ({_TOKS_SQL}) WHERE len(ts) >= 3)"


def _q_ngram_jaccard_fast(spark, sf_dir):
    """Production Jaccard path — 8-byte xxhash64 gram keys on the shuffle/join
    instead of gram strings. Hash-oracled via the materialized-artifact
    pattern (sim_ivf_topk): the hashed (id, gram) table — the only step DuckDB
    cannot reproduce (no xxhash64) — is written to parquet, and the oracle
    replays ALL downstream logic (hot-gram cap, sizes, equi-join, Jaccard,
    threshold) independently in SQL."""
    d = _read(spark, sf_dir, "documents")
    grams = D.hashed_grams(d, n=3)
    path = _art("jaccard_grams")
    grams.write.mode("overwrite").parquet(path)
    g2 = spark.read.parquet(path)
    out = D.jaccard_pairs_from_grams(g2, threshold=0.5, max_doc_freq=_JACCARD_MAX_DF)
    # raw IEEE division, NOT rounded: inter/union are exact integers in doubles,
    # so the division is bit-identical across engines — round(.,6) would
    # introduce half-tie mismatches (Spark HALF_UP vs DuckDB half-even,
    # e.g. 65/128 = 0.5078125)
    return out.select("id_a", "id_b", "jaccard")


_ORACLE_JACCARD_FAST = f"""
WITH g0 AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/jaccard_grams/*.parquet')),
hot AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) > {_JACCARD_MAX_DF}),
g AS (SELECT * FROM g0 WHERE gram NOT IN (SELECT gram FROM hot)),
sizes AS (SELECT id, count(*) AS n FROM g GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM g a JOIN g b USING (gram) WHERE a.id < b.id GROUP BY 1, 2
)
SELECT id_a, id_b, i::double / (sa.n + sb.n - i) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE i::double / (sa.n + sb.n - i) >= 0.5
  AND (SELECT count(DISTINCT id) FROM g0) = {_N_SHINGLED_DOCS_SQL}
"""


def _fuzzy_corpus(spark, sf_dir):
    """documents + exact copies of docs 0-99 + near-copies (one appended token)
    of docs 100-149 — exercises candidate generation, Jaccard verify, and
    transitive clustering."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zq")).alias("text")
    )
    return d.unionByName(exact).unionByName(near)


def _q_dedup_fuzzy(spark, sf_dir):
    # end-to-end fuzzy dedup: LSH candidates → exact Jaccard verify → connected
    # components → canonical assignment. md5 hash family so DuckDB reproduces
    # the candidate set bit-for-bit; production default is xxhash64.
    d = _fuzzy_corpus(spark, sf_dir)
    out = D.fuzzy_dedup_assign(
        d, n=3, num_hashes=8, bands=4, threshold=0.5, hash_family="md5"
    )
    return out.select("doc_id", "canonical_id")


# the planted-dup corpus both fuzzy oracles run on — ONE definition
_FUZZY_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' zq' AS text
  FROM documents WHERE doc_id >= 100 AND doc_id < 150
"""


def _fuzzy_cc_sql(src: str, *, threshold: float = 0.5) -> str:
    """The shared LSH→Jaccard-verify→connected-components CTE chain, over any
    source CTE ``src`` exposing (doc_id, text). Produces CTEs grams/sig/bkt/
    cand/sizes/inter/verified/edges/nodes/r/comp; the caller's WITH must be
    RECURSIVE (for ``r``) and appends its own final SELECT. One definition
    serves dedup_fuzzy AND pipeline_curate — a banding/threshold change cannot
    silently diverge between them."""
    mins = ", ".join(f"min(md5(gram || ':{i}')) AS h{i}" for i in range(8))
    bands = " UNION ALL ".join(
        f"SELECT doc_id AS id, {bi} AS band, h{2*bi} || '|' || h{2*bi+1} AS bucket FROM sig"
        for bi in range(4)
    )
    return f"""
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ts[g:g+2], ' ') AS gram
  FROM (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 2))) AS g
        FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
              FROM {src}))
  WHERE len(ts) >= 3
),
sig AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id),
bkt AS ({bands}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bkt a JOIN bkt b USING (band, bucket) WHERE a.id < b.id
),
sizes AS (SELECT doc_id, count(*) AS ng FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c JOIN grams a ON a.doc_id = c.id_a JOIN grams b ON b.doc_id = c.id_b
  WHERE a.gram = b.gram GROUP BY 1, 2
),
verified AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE i::double / (sa.ng + sb.ng - i) >= {threshold}
),
edges AS (SELECT id_a AS u, id_b AS v FROM verified
          UNION ALL SELECT id_b, id_a FROM verified),
nodes AS (SELECT DISTINCT u AS node FROM edges),
r(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.u, r.lab FROM edges e JOIN r ON r.node = e.v
),
comp AS (SELECT node, min(lab) AS comp FROM r GROUP BY node)"""


_ORACLE_DEDUP_FUZZY = f"""
WITH RECURSIVE alldocs AS ({_FUZZY_CORPUS_SQL}),
-- exact reps-by-text pre-pass, mirroring fuzzy_dedup_assign stage 0: LSH/CC
-- run over one representative per distinct text, and every doc maps
-- text -> rep -> component min. Without it, byte-identical docs too short to
-- shingle (no grams, no buckets) would get canonical_id=self here but min-id
-- in Spark — a latent parity divergence masked by long generated texts.
reps AS (SELECT text, min(doc_id) AS rep FROM alldocs GROUP BY text),
rsrc AS (SELECT rep AS doc_id, text FROM reps),
{_fuzzy_cc_sql("rsrc")}
SELECT d.doc_id AS doc_id, coalesce(c.comp, r.rep) AS canonical_id
FROM alldocs d JOIN reps r USING (text) LEFT JOIN comp c ON c.node = r.rep
"""


def _incr_shard(spark, sf_dir):
    """The NEW shard for incremental dedup: exact copies of indexed docs
    200-249, near copies (one appended token) of 250-299, and 50 genuinely
    fresh synthetic docs — each class exercising one match_kind."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250)).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    near = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 300)).select(
        (F.col("doc_id") + 400000).alias("doc_id"), F.concat("text", F.lit(" zq")).alias("text")
    )
    fresh = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350)).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(
            F.lit("fresh incremental shard document number "),
            F.col("doc_id").cast("string"),
            F.lit(" with its own distinct vocabulary payload tokens"),
        ).alias("text"),
    )
    return exact.unionByName(near).unionByName(fresh)


def _q_dedup_incremental(spark, sf_dir):
    """Incremental dedup of a NEW shard against a PERSISTED index (VERDICT r4
    item 7): build_dedup_index fuzzy-dedups the existing corpus and persists
    canonical/fingerprints/signatures parquet tables; incremental_dedup_assign
    then assigns the shard via fingerprint joins + banding against the stored
    signatures — the indexed corpus is never re-shingled. md5 hash family so
    DuckDB replays the banding bit-for-bit (production default xxhash64)."""
    idx_docs = _fuzzy_corpus(spark, sf_dir)
    index_dir = _art("dedup_index")
    D.build_dedup_index(
        idx_docs, index_dir=index_dir, n=3, num_hashes=8, bands=4,
        threshold=0.5, hash_family="md5",
    )
    new = _incr_shard(spark, sf_dir)
    out = D.incremental_dedup_assign(
        new, idx_docs, index_dir=index_dir, n=3, num_hashes=8, bands=4,
        threshold=0.5, hash_family="md5",
    )
    return out.select("doc_id", "canonical_id", "match_kind")


_INCR_SHARD_SQL = """
  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 250
  UNION ALL
  SELECT doc_id + 400000 AS doc_id, text || ' zq' AS text FROM documents WHERE doc_id >= 250 AND doc_id < 300
  UNION ALL
  SELECT doc_id + 500000 AS doc_id,
         'fresh incremental shard document number ' || doc_id || ' with its own distinct vocabulary payload tokens' AS text
  FROM documents WHERE doc_id >= 300 AND doc_id < 350
"""


def _incremental_oracle() -> str:
    """Replays build_dedup_index + incremental_dedup_assign end-to-end: the
    index's canonical assignment via the shared _fuzzy_cc_sql chain (whose
    grams/sig/bkt CTEs double as the index rep-gram/signature/bucket tables),
    then the shard's md5 signatures, the band join against the index buckets,
    the Jaccard verify against candidate rep texts, and the
    (jaccard desc, canonical asc, rep asc) best-match rank. Exact matches join
    by text (≡ the 128-bit fingerprint join modulo collisions, as in
    _ORACLE_DEDUP_FUZZY's rep pre-pass)."""
    mins2 = ", ".join(f"min(md5(gram || ':{i}')) AS h{i}" for i in range(8))
    nbands2 = " UNION ALL ".join(
        f"SELECT doc_id AS id, {bi} AS band, h{2*bi} || '|' || h{2*bi+1} AS bucket FROM nsig2"
        for bi in range(4)
    )
    return f"""
WITH RECURSIVE alldocs AS ({_FUZZY_CORPUS_SQL}),
reps AS (SELECT text, min(doc_id) AS rep FROM alldocs GROUP BY text),
rsrc AS (SELECT rep AS doc_id, text FROM reps),
{_fuzzy_cc_sql("rsrc")},
canon AS (
  SELECT d.doc_id, coalesce(c.comp, r.rep) AS canonical_id
  FROM alldocs d JOIN reps r USING (text) LEFT JOIN comp c ON c.node = r.rep
),
newdocs AS ({_INCR_SHARD_SQL}),
ex AS (
  SELECT n.doc_id, c.canonical_id, 'exact' AS match_kind
  FROM newdocs n JOIN reps r ON r.text = n.text JOIN canon c ON c.doc_id = r.rep
),
rest AS (SELECT * FROM newdocs WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
ngrams2 AS (
  SELECT DISTINCT doc_id, array_to_string(ts[g:g+2], ' ') AS gram
  FROM (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 1, 2))) AS g
        FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
              FROM rest))
  WHERE len(ts) >= 3
),
nsig2 AS (SELECT doc_id, {mins2} FROM ngrams2 GROUP BY doc_id),
nbkt2 AS ({nbands2}),
cand2 AS (
  SELECT DISTINCT n.id AS nid, i.id AS iid
  FROM nbkt2 n JOIN bkt i USING (band, bucket)
),
nsizes2 AS (SELECT doc_id, count(*) AS ng FROM ngrams2 GROUP BY doc_id),
inter2 AS (
  SELECT c.nid, c.iid, count(*) AS i
  FROM cand2 c JOIN ngrams2 a ON a.doc_id = c.nid JOIN grams b ON b.doc_id = c.iid
  WHERE a.gram = b.gram GROUP BY 1, 2
),
verified2 AS (
  SELECT v.nid, v.iid, cn.canonical_id,
         row_number() OVER (
           PARTITION BY v.nid
           ORDER BY v.j DESC, cn.canonical_id ASC, v.iid ASC
         ) AS rk
  FROM (
    SELECT i2.nid, i2.iid, i2.i::double / (sa.ng + sb.ng - i2.i) AS j
    FROM inter2 i2
    JOIN nsizes2 sa ON sa.doc_id = i2.nid
    JOIN sizes sb ON sb.doc_id = i2.iid
  ) v JOIN canon cn ON cn.doc_id = v.iid
  WHERE v.j >= 0.5
),
nearm AS (
  SELECT nid AS doc_id, canonical_id, 'near' AS match_kind FROM verified2 WHERE rk = 1
),
matched AS (SELECT * FROM ex UNION ALL SELECT * FROM nearm)
SELECT doc_id, canonical_id, match_kind FROM matched
UNION ALL
SELECT doc_id, doc_id AS canonical_id, 'new' AS match_kind
FROM newdocs WHERE doc_id NOT IN (SELECT doc_id FROM matched)
"""


_STOP_SQL = "('" + "', '".join(TXT.STOPWORDS) + "')"


def _q_pipeline_curate(spark, sf_dir):
    """Composed curation pipeline over the planted-dup corpus: quality/lang
    annotation → exact+fuzzy dedup over the passing subset → per-doc keep
    decision + token budgets. Every stage is an individually-oracled operator;
    this verifies their COMPOSITION end-to-end in one SQL twin."""
    from rastr_spark.plans.datapipe import curate_corpus

    d = _fuzzy_corpus(spark, sf_dir)
    out = curate_corpus(
        d, min_quality=0.5, langs=("en",), n=3, num_hashes=8, bands=4,
        jaccard_threshold=0.5, hash_family="md5",
    )
    return out.select(
        "doc_id", "quality", "lang", "bpe_tokens", "ws_tokens", "canonical_id", "keep"
    )


# quality/lang SQL fragments — ONE definition each, shared by _ORACLE_QUALITY
# and _ORACLE_PIPELINE (they must track functions/text.py together)
_QUALITY_CASE_SQL = """
    round((CASE WHEN nt >= 10 AND nt <= 100000 THEN 0.4 ELSE 0.0 END)
        + (CASE WHEN stop_ratio >= 0.05 THEN 0.3 ELSE 0.0 END)
        + (CASE WHEN avg_len >= 2.0 AND avg_len <= 12.0 THEN 0.3 ELSE 0.0 END), 2)
"""
_LANG_CASE_SQL = (
    "CASE WHEN non_ascii THEN 'other' WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unk' END"
)
_BPE_COUNT_SQL = (
    "len(list_filter(regexp_extract_all(text, '"
    + TXT.BPE_PRETOKEN_RE.replace("'", "''")
    + f"', 1), x -> NOT regexp_matches(x, '^[{TXT._WS}]+$')))"
)

_ORACLE_PIPELINE = f"""
WITH RECURSIVE alldocs AS ({_FUZZY_CORPUS_SQL}),
t AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts,
         length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) > 0 AS non_ascii
  FROM alldocs
),
m AS (
  SELECT doc_id, text, non_ascii, len(ts) AS nt,
         (SELECT coalesce(sum(length(x.t)), 0) FROM unnest(ts) AS x(t))::double / greatest(len(ts), 1) AS avg_len,
         (SELECT coalesce(sum(CASE WHEN x.t IN {_STOP_SQL} THEN 1 ELSE 0 END), 0) FROM unnest(ts) AS x(t))::double
            / greatest(len(ts), 1) AS stop_ratio,
         {_BPE_COUNT_SQL} AS bpe_tokens,
         len(ts) AS ws_tokens
  FROM t
),
ann AS (
  SELECT doc_id, text,
    {_QUALITY_CASE_SQL} AS quality,
    {_LANG_CASE_SQL} AS lang,
    bpe_tokens, ws_tokens
  FROM m
),
passing AS (SELECT doc_id, text FROM ann WHERE quality >= 0.5 AND lang IN ('en')),
reps AS (SELECT text, min(doc_id) AS rep FROM passing GROUP BY text),
rsrc AS (SELECT rep AS doc_id, text FROM reps),
{_fuzzy_cc_sql("rsrc")},
assign AS (
  SELECT p.doc_id, coalesce(c.comp, rp.rep) AS canonical_id
  FROM passing p JOIN reps rp USING (text) LEFT JOIN comp c ON c.node = rp.rep
)
SELECT a.doc_id AS doc_id, a.quality, a.lang, a.bpe_tokens, a.ws_tokens,
       s.canonical_id,
       (s.canonical_id IS NOT NULL AND s.canonical_id = a.doc_id) AS keep
FROM ann a LEFT JOIN assign s USING (doc_id)
"""


def _q_token_stats(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("tok"))
    stop = F.when(F.col("tok").isin(TXT.STOPWORDS), 1).otherwise(0)
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.round(F.avg(F.length("tok")), 6).alias("avg_len"),
        F.round(F.sum(stop) / F.count("*"), 6).alias("stop_ratio"),
    )


_ORACLE_TOKEN_STATS = f"""
WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok FROM documents)
SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       round(avg(length(tok)), 6) AS avg_len,
       round(sum(CASE WHEN tok IN {_STOP_SQL} THEN 1 ELSE 0 END)::double / count(*), 6) AS stop_ratio
FROM toks GROUP BY doc_id
"""


def _q_text_bpe_tokens(spark, sf_dir):
    # BPE-style pre-tokenizer counts (token-budget estimation): JVM
    # regexp_extract_all both sides; the regex is RE2/Java-portable (no
    # backrefs/laziness)
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.bpe_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        TXT.token_count(F.col("text")).cast("long").alias("ws_tokens"),
    )


_ORACLE_BPE_TOKENS = f"""
SELECT doc_id,
       {_BPE_COUNT_SQL} AS bpe_tokens,
       len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS ws_tokens
FROM documents
"""


def _q_quality_langid(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.quality_score(F.col("text")).alias("quality"),
        TXT.lang_id(F.col("text")).alias("lang"),
    )


_ORACLE_QUALITY = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts,
         length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) > 0 AS non_ascii
  FROM documents
),
m AS (
  SELECT doc_id, non_ascii, len(ts) AS nt,
         (SELECT coalesce(sum(length(x.t)), 0) FROM unnest(ts) AS x(t))::double / greatest(len(ts), 1) AS avg_len,
         (SELECT coalesce(sum(CASE WHEN x.t IN {_STOP_SQL} THEN 1 ELSE 0 END), 0) FROM unnest(ts) AS x(t))::double
            / greatest(len(ts), 1) AS stop_ratio
  FROM t
)
SELECT doc_id,
  {_QUALITY_CASE_SQL} AS quality,
  {_LANG_CASE_SQL} AS lang
FROM m
"""


def _q_minhash_lsh(spark, sf_dir):
    # md5 hash family: the ONLY variant DuckDB can reproduce bit-for-bit — proves
    # the banding semantics. The production default (and the benched path) is
    # hash_family='xxhash64' (dedup_minhash_fast below).
    d = _read(spark, sf_dir, "documents")
    return D.minhash_lsh_buckets(d, n=3, num_hashes=8, bands=4, hash_family="md5").select(
        "id", "band", "bucket"
    )


def _q_minhash_fast(spark, sf_dir):
    """Production MinHash path (xxhash64 int signatures) — hash-oracled via the
    materialized-artifact pattern: the (id, sig) signature table is written to
    parquet, then Spark derives candidate pairs through the REAL banding path
    (bucket = xxhash64 over the band's longs) while DuckDB replays banding as
    direct band-slice equality from the same artifact. The pair sets agree
    exactly (bucket equality ⇔ slice equality, modulo 64-bit collisions), so
    everything downstream of the hash function is independently verified."""
    d = _read(spark, sf_dir, "documents")
    sig = D.minhash_signatures_df(d, n=3, num_hashes=8, hash_family="xxhash64")
    path = _art("minhash_sigs")
    sig.write.mode("overwrite").parquet(path)
    sig2 = spark.read.parquet(path)
    b = D.lsh_buckets_from_signatures(sig2, num_hashes=8, bands=4, hash_family="xxhash64")
    return D.candidate_pairs_from_buckets(b).select("id_a", "id_b")


_MINHASH_FAST_BANDS_SQL = " UNION ALL ".join(
    f"SELECT id, {bi} AS band, sig[{2 * bi + 1}] AS s1, sig[{2 * bi + 2}] AS s2 FROM sig"
    for bi in range(4)
)

_ORACLE_MINHASH_FAST = f"""
WITH sig AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/minhash_sigs/*.parquet')),
b AS ({_MINHASH_FAST_BANDS_SQL})
SELECT DISTINCT a.id AS id_a, b2.id AS id_b
FROM b a JOIN b b2 USING (band, s1, s2)
WHERE a.id < b2.id
  AND (SELECT count(*) FROM sig) = {_N_SHINGLED_DOCS_SQL}
"""


def _q_simhash_hamming(spark, sf_dir):
    """Planted near-dups: copies of the first 50 docs with one token appended →
    small Hamming perturbation; recovered via pigeonhole block banding.

    Hash-oracled via the materialized-artifact pattern: the (id, simhash)
    table is written to parquet and DuckDB independently replays block
    extraction (shift+mask), the (band, block) bucket join, the exact Hamming
    distance (bit_count(xor)), the threshold, and pair dedup."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    flipped = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.concat("text", F.lit(" zzqx")).alias("text")
    )
    sh = D.simhash_table(d.unionByName(flipped))
    path = _art("simhash_planted")
    sh.write.mode("overwrite").parquet(path)
    sh2 = spark.read.parquet(path)
    return D.simhash_hamming_pairs_from_table(sh2, max_hamming=3, bands=4).select(
        "id_a", "id_b", "hamming"
    )


# (simhash >> (16·band)) & 65535: DuckDB's arithmetic >> sign-extends BIGINTs,
# but the mask strips the extension bits, so the result equals Spark's
# shiftrightunsigned+mask for every band including the top one.
_SIMHASH_BLOCKS_SQL = " UNION ALL ".join(
    f"SELECT id, simhash, {bi} AS band, (simhash >> {16 * bi}) & 65535 AS block FROM sh"
    for bi in range(4)
)

_ORACLE_SIMHASH_HAMMING = f"""
WITH sh AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/simhash_planted/*.parquet')),
b AS ({_SIMHASH_BLOCKS_SQL}),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
         bit_count(xor(a.simhash, b2.simhash)) AS hamming
  FROM b a JOIN b b2 USING (band, block)
  WHERE a.id < b2.id
)
SELECT id_a, id_b, hamming FROM pairs
WHERE hamming <= 3
  AND (SELECT count(*) FROM sh) = (SELECT count(*) FROM documents) + 50
"""


def _minhash_oracle() -> str:
    mins = ", ".join(f"min(md5(gram || ':{i}')) AS h{i}" for i in range(8))
    bands = " UNION ALL ".join(
        f"SELECT doc_id AS id, {bi} AS band, h{2*bi} || '|' || h{2*bi+1} AS bucket FROM sig"
        for bi in range(4)
    )
    return f"WITH grams AS ({_GRAMS_SQL}), sig AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id) {bands}"


def _q_embedding_topk(spark, sf_dir):
    e = _read(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.cosine_topk(e, qs, 5)
    return out.select("query_id", "vec_id", "rank", F.round("score", 6).alias("score"))


_ORACLE_TOPK = """
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
pairs AS (SELECT v.vec_id, q.qid, v.embedding AS ve, q.qe AS qe FROM embeddings v, q),
comp AS (
  SELECT qid, vec_id, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
  FROM (SELECT qid, vec_id, unnest(ve)::double AS a, unnest(qe)::double AS b FROM pairs)
  GROUP BY qid, vec_id
)
SELECT qid AS query_id, vec_id, rank, round(dot / (sqrt(na) * sqrt(nb)), 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rank
      FROM comp)
WHERE rank <= 5
"""


def _q_events_hourly(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_ORACLE_EVENTS = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
       count(*) AS n, round(avg(value), 6) AS avg_value, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def _q_tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q_nation_revenue(spark, sf_dir):
    """Broadcast-join chain: customer ⋈ orders ⋈ nation → revenue per nation."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("n_orders"))
    )


_ORACLE_NATION_REVENUE = """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q_dilate(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    return rf.dilate(CELL).cells(drop_nan=True)  # radius 1 cell → disk = plus shape


_ORACLE_DILATE = f"""
WITH cells AS ({_CELLS_SQL})
SELECT c.row AS row, c.col AS col, max(n.value) AS value
FROM cells c JOIN cells n
ON abs(n.row - c.row) + abs(n.col - c.col) <= 1
GROUP BY c.row, c.col
"""


def _q_sobel(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    return (
        rf.sobel()
        .cells(drop_nan=True)
        .filter((F.col("row").between(1, GRID - 2)) & (F.col("col").between(1, GRID - 2)))
        .select("row", "col", F.round("value", 6).alias("value"))
    )


_ORACLE_SOBEL = f"""
WITH cells AS ({_CELLS_SQL}),
n9 AS (
  SELECT c.row, c.col,
         sum(n.value * (-(n.row - c.row)) * (2 - abs(n.col - c.col))) / 8.0 AS v,
         sum(n.value * (-(n.col - c.col)) * (2 - abs(n.row - c.row))) / 8.0 AS h
  FROM cells c JOIN cells n
  ON n.row BETWEEN c.row - 1 AND c.row + 1 AND n.col BETWEEN c.col - 1 AND c.col + 1
  WHERE c.row BETWEEN 1 AND {GRID - 2} AND c.col BETWEEN 1 AND {GRID - 2}
  GROUP BY c.row, c.col
)
SELECT row, col, round(sqrt(2 * (v * v + h * h)) / {CELL}, 6) AS value FROM n9
"""


def _blur_w1():
    import numpy as _np

    x = _np.arange(-1, 2)
    w = _np.exp(-0.5 * (x / 0.25) ** 2)
    return (w / w.sum()).tolist()


def _q_blur(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    return (
        rf.blur(2.0, preserve_nan=False)  # σ = 2 m = 0.25 cells → radius 1
        .cells(drop_nan=True)
        .filter((F.col("row").between(1, GRID - 2)) & (F.col("col").between(1, GRID - 2)))
        .select("row", "col", F.round("value", 6).alias("value"))
    )


def _blur_oracle() -> str:
    w = _blur_w1()
    terms = " + ".join(
        f"sum(CASE WHEN n.row - c.row = {dr} AND n.col - c.col = {dc} THEN n.value ELSE 0 END) * {w[dr+1] * w[dc+1]!r}"
        for dr in (-1, 0, 1)
        for dc in (-1, 0, 1)
    )
    return f"""
WITH cells AS ({_CELLS_SQL})
SELECT c.row AS row, c.col AS col, round({terms}, 6) AS value
FROM cells c JOIN cells n
ON n.row BETWEEN c.row - 1 AND c.row + 1 AND n.col BETWEEN c.col - 1 AND c.col + 1
WHERE c.row BETWEEN 1 AND {GRID - 2} AND c.col BETWEEN 1 AND {GRID - 2}
GROUP BY c.row, c.col
"""


def _q_resample(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    out = rf.resample(CELL * 2)  # exact 2× downsample → mean of each 2×2 block
    return out.cells(drop_nan=True).select("row", "col", F.round("value", 6).alias("value"))


_ORACLE_RESAMPLE = f"""
WITH cells AS ({_CELLS_SQL})
SELECT CAST(row // 2 AS INT) AS row, CAST(col // 2 AS INT) AS col,
       round(sum(value) / 4.0, 6) AS value
FROM cells GROUP BY 1, 2
"""


def _q_resample_up(spark, sf_dir):
    """2× bilinear UPSAMPLE (reference test_raster.py TestResample's up
    direction). Closed-form source mapping at factor 2: src = out/2 − 0.25, so
    interior weights are exactly {0.75, 0.25} (edge rows/cols clamp to weight
    0) — every output value is int/16, so the 6-dp round is tie-free in both
    engines. NaN semantics: any NaN corner poisons the output cell (0·NaN is
    NaN), mirrored by the oracle's four INNER joins."""
    rf = _lineitem_raster(spark, sf_dir)
    out = rf.resample(CELL / 2)
    return out.cells(drop_nan=True).select("row", "col", F.round("value", 6).alias("value"))


_ORACLE_RESAMPLE_UP = f"""
WITH cells AS ({_CELLS_SQL}),
oi AS (
  SELECT CAST(r.range AS INT) AS row, CAST(c.range AS INT) AS col
  FROM range(0, {2 * GRID}) r, range(0, {2 * GRID}) c
),
m AS (
  SELECT row, col,
    CASE WHEN row = 0 THEN 0 WHEN row % 2 = 0 THEN row // 2 - 1 ELSE row // 2 END AS y0,
    CASE WHEN row = 0 THEN 0.0 WHEN row % 2 = 0 THEN 0.75 ELSE 0.25 END AS wy,
    CASE WHEN col = 0 THEN 0 WHEN col % 2 = 0 THEN col // 2 - 1 ELSE col // 2 END AS x0,
    CASE WHEN col = 0 THEN 0.0 WHEN col % 2 = 0 THEN 0.75 ELSE 0.25 END AS wx
  FROM oi
),
m2 AS (
  SELECT row, col, y0, x0, least(y0 + 1, {GRID - 1}) AS y1, least(x0 + 1, {GRID - 1}) AS x1, wy, wx
  FROM m
)
SELECT m2.row AS row, m2.col AS col,
       round(a00.value * (1 - wy) * (1 - wx) + a01.value * (1 - wy) * wx
           + a10.value * wy * (1 - wx) + a11.value * wy * wx, 6) AS value
FROM m2
JOIN cells a00 ON a00.row = m2.y0 AND a00.col = m2.x0
JOIN cells a01 ON a01.row = m2.y0 AND a01.col = m2.x1
JOIN cells a10 ON a10.row = m2.y1 AND a10.col = m2.x0
JOIN cells a11 ON a11.row = m2.y1 AND a11.col = m2.x1
"""


def _q_extrapolate(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    r_cells = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(
            (F.col("l_partkey") % GRID).cast("int").alias("row"),
            (F.col("l_suppkey") % GRID).cast("int").alias("col"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )
    rf = RasterFrame.from_cells(r_cells, META, raster_id="rr")
    return rf.extrapolate().cells(drop_nan=True)


_ORACLE_EXTRAPOLATE = f"""
WITH rc AS (
  SELECT l_partkey % {GRID} AS row, l_suppkey % {GRID} AS col, sum(l_quantity) AS value
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2
),
grid AS (SELECT t1.r AS row, t2.c AS col FROM range({GRID}) t1(r), range({GRID}) t2(c)),
ranked AS (
  SELECT g.row, g.col, rc.value,
         row_number() OVER (
           PARTITION BY g.row, g.col
           ORDER BY (rc.row - g.row) * (rc.row - g.row) + (rc.col - g.col) * (rc.col - g.col),
                    rc.row, rc.col
         ) AS rn
  FROM grid g, rc
)
SELECT row, col, value FROM ranked WHERE rn = 1
"""


def _q_distance(spark, sf_dir):
    from rastr_spark.operators.interpolate import raster_distance_from_polygon

    poly = Geometry.box(128.0, 128.0, 384.0, 384.0)
    extent = Geometry.box(0.0, 0.0, WORLD, WORLD)
    rf = raster_distance_from_polygon(spark, poly, raster_meta=META, extent_polygon=extent)
    return rf.cells(drop_nan=True).select("row", "col", F.round("value", 6).alias("value"))


_ORACLE_DISTANCE = f"""
WITH grid AS (SELECT t1.r AS row, t2.c AS col FROM range({GRID}) t1(r), range({GRID}) t2(c)),
cent AS (SELECT row, col, (col*8 + 4.0)::double AS x, (512.0 - row*8 - 4.0)::double AS y FROM grid)
SELECT row, col,
       round(sqrt(pow(greatest(128.0 - x, x - 384.0, 0.0), 2) + pow(greatest(128.0 - y, y - 384.0, 0.0), 2)), 6) AS value
FROM cent WHERE NOT (x > 128.0 AND x < 384.0 AND y > 128.0 AND y < 384.0)
"""


def _q_taper(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    return (
        rf.taper_border(CELL * 2)  # width 2 cells, limit 0
        .cells(drop_nan=True)
        .select("row", "col", F.round("value", 6).alias("value"))
    )


_ORACLE_TAPER = f"""
WITH cells AS ({_CELLS_SQL}),
d AS (SELECT row, col, value, least(row, col, {GRID - 1} - row, {GRID - 1} - col) AS dist FROM cells)
SELECT row, col,
       round(CASE WHEN dist < 2 THEN value * (dist / 2.0) ELSE value END, 6) AS value
FROM d
"""


def _q_normalize(spark, sf_dir):
    rf = _lineitem_raster(spark, sf_dir)
    return (
        rf.normalize()
        .clamp(0.2, 0.8)
        .cells(drop_nan=True)
        .select("row", "col", F.round("value", 6).alias("value"))
    )


_ORACLE_NORMALIZE = f"""
WITH cells AS ({_CELLS_SQL}),
mm AS (SELECT min(value) AS lo, max(value) AS hi FROM cells)
SELECT row, col,
       round(least(greatest(least(greatest((value - lo) / (hi - lo), 0.0), 1.0), 0.2), 0.8), 6) AS value
FROM cells, mm
"""


def _q_rasterize_boxes(spark, sf_dir):
    """rasterize_gdf over three disjoint boxes: full meta inference + burn path."""
    import pandas as _pd

    from rastr_spark.operators.rasterize import rasterize_gdf

    gdf = _pd.DataFrame(
        {
            "geometry": [
                Geometry.box(10.0, 10.0, 100.0, 80.0),
                Geometry.box(150.0, 20.0, 240.0, 90.0),
                Geometry.box(60.0, 120.0, 200.0, 180.0),
            ],
            "value": [1.0, 2.0, 3.0],
        }
    )
    meta = RasterMeta(10.0, "EPSG:2193", Affine(10, 0, 0, 0, -10, 1), 1, 1, tile_size=8)
    (rf,) = rasterize_gdf(spark, gdf, raster_meta=meta, target_cols=["value"])
    return rf.cells(drop_nan=True)


_ORACLE_RASTERIZE = """
WITH grid AS (SELECT t1.r AS row, t2.c AS col FROM range(19) t1(r), range(25) t2(c)),
cent AS (SELECT row, col, (col*10 + 5.0)::double AS x, (190.0 - row*10 - 5.0)::double AS y FROM grid)
SELECT row, col,
       CASE WHEN x > 10 AND x < 100 AND y > 10 AND y < 80 THEN 1.0
            WHEN x > 150 AND x < 240 AND y > 20 AND y < 90 THEN 2.0
            WHEN x > 60 AND x < 200 AND y > 120 AND y < 180 THEN 3.0
       END AS value
FROM cent
WHERE (x > 10 AND x < 100 AND y > 10 AND y < 80)
   OR (x > 150 AND x < 240 AND y > 20 AND y < 90)
   OR (x > 60 AND x < 200 AND y > 120 AND y < 180)
"""


# -- flagship: oracled via a materialized doc table --------------------------

_FLAGSHIP_N_DOCS = 2000


def _q_flagship(spark, sf_dir):
    """Flagship with a DuckDB twin: generate_documents is materialized to
    parquet, and the oracle replays the ENTIRE pipeline (span explode →
    media_ref split → per-(tile, zone) PIP partials → join → final agg) from
    that artifact in SQL — the PIP here is axis-aligned boxes on cell centres,
    fully expressible with inequality predicates. Values are exact: lineitem
    quantities are integers, so every partial sum is an integer-valued double
    in both engines."""
    rf = _lineitem_raster(spark, sf_dir)
    docs = generate_documents(
        spark, _FLAGSHIP_N_DOCS, seed=42, n_tile_rows=META.n_tile_rows,
        n_tile_cols=META.n_tile_cols, raster_id="li", world_size=WORLD,
    )
    path = _art("flagship_docs")
    docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    zones = [(zid, Geometry.box(*bb)) for zid, bb in _ZONES]
    out = doc_zonal_stats(docs, rf, zones, salt_threshold=200)
    # mean is NOT rounded: sums and counts are exact integers in doubles, so the
    # single IEEE division is bit-identical across engines — rounding would
    # INTRODUCE mismatches at half-ties (Spark half-up vs DuckDB half-even)
    return out.select(
        "zone_id", "doc_id", "cell_count",
        F.round("sum", 4).alias("sum_v"), F.col("mean").alias("mean_v"),
    )


_ORACLE_FLAGSHIP = f"""
WITH docs AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/flagship_docs/*.parquet')),
s AS (SELECT doc_id, unnest(spans) AS sp FROM docs),
refs AS (
  SELECT doc_id,
         CAST(string_split(sp.media_ref, '/')[2] AS INT) AS tile_row,
         CAST(string_split(sp.media_ref, '/')[3] AS INT) AS tile_col
  FROM s
  WHERE sp.kind = 'media' AND string_split(sp.media_ref, '/')[1] = 'li'
),
cells AS ({_CELLS_SQL}),
cent AS (
  SELECT value, col*8 + 4.0 AS x, 512.0 - row*8 - 4.0 AS y,
         CAST(row // {TILE} AS INT) AS tile_row, CAST(col // {TILE} AS INT) AS tile_col
  FROM cells
),
zones AS (
  SELECT 'nw' AS zone_id, 0.0 xmin, 256.0 ymin, 256.0 xmax, 512.0 ymax UNION ALL
  SELECT 'ne', 256.0, 256.0, 512.0, 512.0 UNION ALL
  SELECT 'sw', 0.0, 0.0, 256.0, 256.0 UNION ALL
  SELECT 'se', 256.0, 0.0, 512.0, 256.0
),
partials AS (
  SELECT c.tile_row, c.tile_col, z.zone_id, count(*) AS cnt, sum(c.value) AS s
  FROM cent c JOIN zones z
    ON c.x > z.xmin AND c.x < z.xmax AND c.y > z.ymin AND c.y < z.ymax
  GROUP BY 1, 2, 3
),
joined AS (
  SELECT r.doc_id, p.zone_id, p.cnt, p.s
  FROM refs r JOIN partials p USING (tile_row, tile_col)
)
SELECT zone_id, doc_id, CAST(sum(cnt) AS BIGINT) AS cell_count,
       round(sum(s), 4) AS sum_v, sum(s) / sum(cnt) AS mean_v
FROM joined
-- guard: empty the result (loud parity failure) if the materialized doc
-- artifact is missing or stale instead of silently comparing garbage
WHERE (SELECT count(*) FROM docs) = {_FLAGSHIP_N_DOCS}
GROUP BY 1, 2
"""


def _q_simhash(spark, sf_dir):
    """SimHash identical-fingerprint groups, hash-oracled via the materialized
    (id, simhash) artifact: DuckDB replays the grouping/count/min + HAVING
    independently — everything but the xxhash64-based fingerprint itself."""
    sh = D.simhash_table(_dup_docs(spark, sf_dir))
    path = _art("simhash_dups")
    sh.write.mode("overwrite").parquet(path)
    sh2 = spark.read.parquet(path)
    return D.simhash_groups_from_table(sh2).select("simhash", "n", "canonical_id")


_ORACLE_SIMHASH = f"""
WITH sh AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/simhash_dups/*.parquet'))
SELECT simhash, count(*) AS n, min(id) AS canonical_id
FROM sh
WHERE (SELECT count(*) FROM sh) = (SELECT count(*) FROM documents) + 100
GROUP BY simhash HAVING count(*) >= 2
"""


def _q_srp_topk(spark, sf_dir):
    e = _read(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    out = S.srp_topk(e, qs, 5, dim=64, n_planes=6)
    return out.select("query_id", "vec_id", "rank", F.round("score", 6).alias("score"))


def _srp_oracle() -> str:
    """SQL oracle for sim_srp_topk (the _point_cloud_oracle pattern: embed the
    deterministic non-SQL object as VALUES).

    The splitmix hyperplanes are a pure function of (seed=7, dim=64,
    n_planes=6) — the 6×64 plane matrix is embedded as a VALUES table and
    DuckDB recomputes bucket bits (sign of each projection), the bucket
    equi-join, cosine, and the (score desc, vec_id) rank INDEPENDENTLY."""
    planes = S._hyperplanes(64, 6, 7)
    rows = [
        f"({j}, {i + 1}, {float(planes[j, i])!r})"
        for j in range(planes.shape[0])
        for i in range(planes.shape[1])
    ]
    values = ",\n    ".join(rows)
    return f"""
WITH planes(j, i, w) AS (VALUES
    {values}),
comps AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i, unnest(embedding)::double AS x
  FROM embeddings
),
proj AS (
  SELECT c.vec_id, p.j, sum(c.x * p.w) AS pr
  FROM comps c JOIN planes p ON p.i = c.i
  GROUP BY 1, 2
),
bkt AS (
  SELECT vec_id, CAST(sum(CASE WHEN pr > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1
),
v AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN bkt b USING (vec_id)),
q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM v WHERE vec_id < 10),
pairs AS (SELECT v.vec_id, q.qid, v.embedding AS ve, q.qe AS qe FROM v JOIN q USING (bucket)),
comp AS (
  SELECT qid, vec_id, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
  FROM (SELECT qid, vec_id, unnest(ve)::double AS a, unnest(qe)::double AS b FROM pairs)
  GROUP BY qid, vec_id
)
SELECT qid AS query_id, vec_id, rank, round(dot / (sqrt(na) * sqrt(nb)), 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rank
      FROM comp)
WHERE rank <= 5
"""


def _q_ivf_topk(spark, sf_dir):
    """IVF top-k with a DuckDB twin (the flagship-oracle pattern): the trained
    centroid matrix — the INDEX artifact — is materialized to parquet, and the
    oracle independently recomputes every query-time step in SQL: vector→list
    assignment (top n_assign=2 centroids by cosine, ties by centroid id),
    query probing (top nprobe=5), in-list exact cosine scoring, cross-probe
    dedup, and the (score desc, vec_id) rank. Training itself (seeded sample +
    Lloyd) stays Spark-side — it is index CONSTRUCTION; the oracle verifies
    index USE."""
    e = _read(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    cents = S.train_ivf_centroids(e, n_centroids=8, seed=7, iters=2)
    rows = [
        (int(cid), int(pos), float(w))
        for cid, row in enumerate(cents)
        for pos, w in enumerate(row)
    ]
    spark.createDataFrame(rows, "cid int, pos int, w double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(_art("ivf_centroids"))
    out = S.ivf_topk(e, qs, 5, nprobe=5, n_assign=2, centroids=cents)
    return out.select("query_id", "vec_id", "rank", F.round("score", 6).alias("score"))


# Float discipline note: assignment/probe/rank orderings compare raw doubles
# computed by different means (Spark: normalized BLAS matmul; DuckDB:
# sum-of-products) — exact ties at a selection boundary could diverge, but
# require two cosines equal to within ~1 ulp, which real embeddings do not
# produce; all deliberate ties break on integer ids in both engines.
_ORACLE_IVF = f"""
WITH cent AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/ivf_centroids/*.parquet')),
comps AS (
  SELECT vec_id, unnest(range(0, len(embedding))) AS pos, unnest(embedding)::double AS x
  FROM embeddings
),
sims AS (
  SELECT c.vec_id, p.cid,
         sum(c.x * p.w) / (sqrt(sum(c.x * c.x)) * sqrt(sum(p.w * p.w))) AS sim
  FROM comps c JOIN cent p USING (pos)
  GROUP BY 1, 2
),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS r
  FROM sims
),
v AS (SELECT e.vec_id, e.embedding, r.cid FROM embeddings e JOIN ranked r USING (vec_id) WHERE r.r <= 2),
q AS (SELECT e.vec_id AS qid, e.embedding AS qe, r.cid
      FROM embeddings e JOIN ranked r USING (vec_id) WHERE e.vec_id < 10 AND r.r <= 5),
pairs AS (SELECT DISTINCT v.vec_id, q.qid, v.embedding AS ve, q.qe AS qe
          FROM v JOIN q USING (cid)),
comp AS (
  SELECT qid, vec_id, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
  FROM (SELECT qid, vec_id, unnest(ve)::double AS a, unnest(qe)::double AS b FROM pairs)
  GROUP BY qid, vec_id
)
SELECT qid AS query_id, vec_id, rank, round(dot / (sqrt(na) * sqrt(nb)), 6) AS score
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rank
      FROM comp)
-- guard: empty the result (loud parity failure) if the materialized centroid
-- artifact is missing/stale instead of silently comparing against garbage
WHERE rank <= 5 AND (SELECT count(*) FROM cent) = 8 * 64
"""


def _q_contour(spark, sf_dir):
    """Stitched-contour topology summary — hash-oracled via the materialized
    pre-stitch SEGMENT artifact (VERDICT r4 item 2; reference raster.py
    contour + dissolve semantics, the stitch at raster.py:1134-1162).

    The per-tile marching-squares segment table (the halo-exchange-distributed
    part, and the only non-SQL kernel) is written to parquet; the Spark side
    then computes a decomposition-invariant stitched summary per level —
    segment/node counts, connected isoline count via the engine's OWN
    distributed connected_components operator, open endpoints, largest
    stitched component, coordinate sums — and DuckDB replays stitch
    connectivity independently with a recursive CTE over the same artifact. A
    missed cross-tile connection, a coordinate mismatch at a tile boundary, or
    a wrong halo strip changes node identity/components and fails the hash.

    (The greedy polyline WALK itself is order-dependent at degree>2 corner
    nodes — exact integer data crossing integer levels — so the walk output is
    not graph-canonical; it stays covered by the cross-tile equality tests.
    Node keys round index coords at 1e-9 via floor(x*1e9+0.5) — identical
    double arithmetic in both engines, no HALF_UP/half-even divergence.)"""
    from rastr_spark.functions.dedup import connected_components

    rf = _lineitem_raster(spark, sf_dir)
    seg = contour_segments(rf, [200.0, 400.0])
    path = _art("contour_segments")
    seg.write.mode("overwrite").parquet(path)
    s = spark.read.parquet(path)

    def k(c):
        return F.floor(F.col(c) * 1e9 + F.lit(0.5)).cast("long")

    s = s.select(
        "level", "ra", "ca", "rb", "cb",
        k("ra").alias("kra"), k("ca").alias("kca"),
        k("rb").alias("krb"), k("cb").alias("kcb"),
    ).withColumn("ida", F.xxhash64("level", "kra", "kca")).withColumn(
        "idb", F.xxhash64("level", "krb", "kcb")
    )
    ends = s.select(
        "level", F.col("ra").alias("rr"), F.col("ca").alias("cc"), F.col("ida").alias("nid")
    ).unionAll(
        s.select("level", F.col("rb"), F.col("cb"), F.col("idb"))
    )
    nodes = ends.groupBy("level", "nid").agg(
        F.count("*").alias("deg"), F.min("rr").alias("rmin"), F.min("cc").alias("cmin")
    )
    comp = connected_components(
        s.select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"))
    )
    nl = nodes.join(comp, nodes.nid == comp.node)
    per_node = nl.groupBy("level").agg(
        F.count("*").alias("n_nodes"),
        F.countDistinct("comp").alias("n_components"),
        F.sum((F.col("deg") == 1).cast("long")).alias("n_open_ends"),
        F.round(F.sum(F.lit(CELL) * (F.col("cmin") + 0.5)), 2).alias("sum_x"),
        F.round(F.sum(F.lit(WORLD) - F.lit(CELL) * (F.col("rmin") + 0.5)), 2).alias("sum_y"),
    )
    per_comp = (
        s.join(comp, s.ida == comp.node)
        .groupBy("level", "comp")
        .agg(F.count("*").alias("ns"))
        .groupBy("level")
        .agg(F.max("ns").alias("max_component_segments"))
    )
    seg_counts = s.groupBy("level").agg(F.count("*").alias("n_segments"))
    return (
        seg_counts.join(per_node, "level")
        .join(per_comp, "level")
        .select(
            "level", "n_segments", "n_nodes", "n_components",
            "n_open_ends", "max_component_segments", "sum_x", "sum_y",
        )
    )


def _contour_oracle(rounds: int = 14) -> str:
    """Stitch-connectivity replay from the segment artifact. Connected
    components run as FIXED-ROUND Borůvka basin contraction — the SAME
    algorithm as functions/dedup.connected_components — generated as chained
    MATERIALIZED CTEs: contour components are long PATHS (diameter ≈
    component size), where a naive transitive-closure recursive CTE needs
    diameter iterations (measured: tens of minutes at sf0.01) and per-node
    hook+jump stalls at label local minima (measured: exactly one unmerged
    basin boundary per level after 16 rounds). Contraction at least halves
    live basins every round — 14 rounds cover ≥2¹⁴ initial basins, far beyond
    any 64² raster's segment count — and a final zero-quotient-edge guard
    makes an unconverged replay fail LOUDLY (empty result) instead of
    comparing split components. MATERIALIZED is required: each round
    references the previous multiple times, and DuckDB's default CTE inlining
    would duplicate the subtree exponentially."""
    parts = [
        f"WITH seg AS MATERIALIZED (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/contour_segments/*.parquet'))",
        """s AS MATERIALIZED (
  SELECT level, ra, ca, rb, cb,
         CAST(floor(ra * 1e9 + 0.5) AS BIGINT) AS kra, CAST(floor(ca * 1e9 + 0.5) AS BIGINT) AS kca,
         CAST(floor(rb * 1e9 + 0.5) AS BIGINT) AS krb, CAST(floor(cb * 1e9 + 0.5) AS BIGINT) AS kcb
  FROM seg)""",
        """ends AS (
  SELECT level, kra AS kr, kca AS kc, ra AS rr, ca AS cc FROM s
  UNION ALL SELECT level, krb, kcb, rb, cb FROM s)""",
        """nodes AS (
  SELECT level, kr, kc, count(*) AS deg, min(rr) AS rmin, min(cc) AS cmin
  FROM ends GROUP BY 1, 2, 3)""",
        # node ids are HASHED, not coordinate-ordered: contraction under a
        # coordinate-monotone id order stalls on isoline chains (the quotient
        # becomes shift-invariant — measured ~2 merges/round); a random order
        # shrinks basins geometrically (same reasoning as the Spark operator's
        # hash-randomized labels). Labels never enter the output, only counts.
        """nid AS MATERIALIZED (
  SELECT level, kr, kc, deg, rmin, cmin,
         hash(level, kr, kc) AS id
  FROM nodes)""",
        """e0 AS (
  SELECT a.id AS u, b.id AS v
  FROM s
  JOIN nid a ON a.level = s.level AND a.kr = s.kra AND a.kc = s.kca
  JOIN nid b ON b.level = s.level AND b.kr = s.krb AND b.kc = s.kcb)""",
        "edges AS MATERIALIZED (SELECT u, v FROM e0)",
        "p0 AS MATERIALIZED (SELECT id AS node, id AS lab FROM nid)",
    ]
    for k in range(1, rounds + 1):
        parts.append(f"""q{k} AS MATERIALIZED (
  SELECT DISTINCT a.lab AS cu, b.lab AS cv
  FROM edges e JOIN p{k - 1} a ON a.node = e.u JOIN p{k - 1} b ON b.node = e.v
  WHERE a.lab <> b.lab)""")
        parts.append(f"""m{k} AS MATERIALIZED (
  SELECT cu, min(cv) AS mv
  FROM (SELECT cu, cv FROM q{k} UNION ALL SELECT cv, cu FROM q{k})
  GROUP BY cu HAVING min(cv) < cu)""")
        parts.append(f"""mm{k} AS MATERIALIZED (
  SELECT a.cu, coalesce(b.mv, a.mv) AS mv
  FROM m{k} a LEFT JOIN m{k} b ON b.cu = a.mv)""")
        parts.append(f"""p{k} AS MATERIALIZED (
  SELECT l.node, coalesce(mm.mv, l.lab) AS lab
  FROM p{k - 1} l LEFT JOIN mm{k} mm ON mm.cu = l.lab)""")
    parts.append(f"""qfin AS MATERIALIZED (
  SELECT a.lab AS cu, b.lab AS cv
  FROM edges e JOIN p{rounds} a ON a.node = e.u JOIN p{rounds} b ON b.node = e.v
  WHERE a.lab <> b.lab)""")
    parts.append(f"comp AS MATERIALIZED (SELECT node, lab AS comp FROM p{rounds})")
    parts.append("""nodelab AS (
  SELECT n.level, n.deg, n.rmin, n.cmin, c.comp
  FROM nid n JOIN comp c ON c.node = n.id)""")
    parts.append(f"""pernode AS (
  SELECT level, count(*) AS n_nodes, count(DISTINCT comp) AS n_components,
         CAST(sum(CASE WHEN deg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_open_ends,
         round(sum({CELL!r} * (cmin + 0.5)), 2) AS sum_x,
         round(sum({WORLD!r} - {CELL!r} * (rmin + 0.5)), 2) AS sum_y
  FROM nodelab GROUP BY level
  HAVING (SELECT count(*) FROM qfin) = 0)""")
    parts.append("""segcomp AS (
  SELECT s.level, c.comp, count(*) AS ns
  FROM s
  JOIN nid a ON a.level = s.level AND a.kr = s.kra AND a.kc = s.kca
  JOIN comp c ON c.node = a.id
  GROUP BY 1, 2)""")
    parts.append("percomp AS (SELECT level, max(ns) AS max_component_segments FROM segcomp GROUP BY level)")
    parts.append("segcnt AS (SELECT level, count(*) AS n_segments FROM s GROUP BY level)")
    return (
        ",\n".join(parts)
        + """
SELECT level, n_segments, n_nodes, n_components, n_open_ends, max_component_segments, sum_x, sum_y
FROM segcnt JOIN pernode USING (level) JOIN percomp USING (level)
"""
    )


def _q_point_cloud(spark, sf_dir):
    """Delaunay point-cloud interpolation over points derived from supplier keys."""
    sup = _read(spark, sf_dir, "supplier").collect()
    import numpy as _np

    ks = _np.array(sorted(r["s_suppkey"] for r in sup))[:60]
    x = (ks * 37 % 100).astype(float)
    y = (ks * 53 % 100).astype(float)
    z = (ks % 17).astype(float)
    # drop duplicate (x, y) pairs deterministically (keep first)
    seen = {}
    for xi, yi, zi in zip(x, y, z):
        seen.setdefault((xi, yi), zi)
    pts = sorted(seen.items())
    from rastr_spark.operators.interpolate import raster_from_point_cloud

    rf = raster_from_point_cloud(
        spark,
        [p[0][0] for p in pts],
        [p[0][1] for p in pts],
        [p[1] for p in pts],
        crs="EPSG:2193",
        cell_size=5.0,
        tile_size=8,
    )
    return rf.cells(drop_nan=True).select("row", "col", F.round("value", 6).alias("value"))


def _point_cloud_oracle() -> str:
    """SQL oracle for raster_point_cloud_interp.

    The point set is deterministic (first 60 suppkeys = 0..59 at every sf ≥
    0.01), so the Delaunay triangulation — the only non-SQL-expressible step —
    is a fixed object: embed it as a VALUES table and let DuckDB do the
    barycentric containment + interpolation INDEPENDENTLY, replicating the
    kernel's rules exactly (bbox eps 1e-12, l ≥ -1e-10, first-containing-
    triangle = min tid). A guard predicate empties the result if the supplier
    table ever stops containing keys 0..59 (failing the parity gate loudly
    instead of silently comparing stale constants)."""
    import numpy as _np

    from rastr_spark.operators.interpolate import delaunay as _delaunay

    ks = _np.arange(60)
    x = (ks * 37 % 100).astype(float)
    y = (ks * 53 % 100).astype(float)
    z = (ks % 17).astype(float)
    seen: dict = {}
    for xi, yi, zi in zip(x, y, z):
        seen.setdefault((xi, yi), zi)
    pts_sorted = sorted(seen.items())
    px = _np.array([p[0][0] for p in pts_sorted])
    py = _np.array([p[0][1] for p in pts_sorted])
    pz = _np.array([p[1] for p in pts_sorted])
    tris = _delaunay(_np.column_stack((px, py)))
    cell = 5.0
    xmin, xmax = px.min(), px.max()
    ymin, ymax = py.min(), py.max()
    import math as _math

    W = max(1, int(_math.ceil((xmax - xmin) / cell)) + 1)
    H = max(1, int(_math.ceil((ymax - ymin) / cell)) + 1)
    rows = []
    for tid, t in enumerate(tris):
        (x1, y1), (x2, y2), (x3, y3) = _np.column_stack((px, py))[t]
        z1, z2, z3 = pz[t]
        # float() first: repr(np.float64(v)) is 'np.float64(v)' under numpy >= 2
        # (invalid SQL); plain-float repr is round-trip exact either way
        c9 = ", ".join(repr(float(v)) for v in (x1, y1, z1, x2, y2, z2, x3, y3, z3))
        rows.append(f"({tid}, {c9})")
    values = ",\n    ".join(rows)
    xmin, ymax = float(xmin), float(ymax)
    return f"""
WITH tris(tid, x1, y1, z1, x2, y2, z2, x3, y3, z3) AS (VALUES
    {values}),
cells AS (
  SELECT r.range AS row, c.range AS col,
         {xmin!r} + {cell!r} * c.range AS px,
         {ymax!r} - {cell!r} * r.range AS py
  FROM range(0, {H}) r, range(0, {W}) c
),
cand AS (
  SELECT row, col, tid,
         ((y2 - y3) * (px - x3) + (x3 - x2) * (py - y3))
           / ((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)) AS l1,
         ((y3 - y1) * (px - x3) + (x1 - x3) * (py - y3))
           / ((y2 - y3) * (x1 - x3) + (x3 - x2) * (y1 - y3)) AS l2,
         z1, z2, z3
  FROM cells JOIN tris
    ON px >= least(x1, x2, x3) - 1e-12 AND px <= greatest(x1, x2, x3) + 1e-12
   AND py >= least(y1, y2, y3) - 1e-12 AND py <= greatest(y1, y2, y3) + 1e-12
),
hit AS (
  SELECT row, col, l1 * z1 + l2 * z2 + (1 - l1 - l2) * z3 AS v,
         row_number() OVER (PARTITION BY row, col ORDER BY tid) AS rn
  FROM cand
  WHERE l1 >= -1e-10 AND l2 >= -1e-10 AND (1 - l1 - l2) >= -1e-10
)
SELECT row, col, round(v, 6) AS value FROM hit
WHERE rn = 1
  AND (SELECT count(DISTINCT s_suppkey) FROM supplier WHERE s_suppkey BETWEEN 0 AND 59) = 60
"""


def _q_multimodal_features(spark, sf_dir):
    """image_features over synthesized media — hash-oracled via the
    materialized decoded-PIXEL artifact: the stub decoder's raw uint8 buffer
    (the only non-SQL-replayable step — the codec) is written to parquet, and
    DuckDB independently replays the grid pooling + feature arithmetic in
    float32 (REAL casts reproduce numpy's single-precision rounding bitwise:
    block sums of uint8 are < 2^24 so they are exact in float32, and the two
    divisions /48 and /255 round once each in both engines). The Spark side
    still runs the PRODUCTION mapInPandas path end-to-end."""
    media = synthesize_media(spark, 300)
    decoded_pixels(media, fake_decode=True).write.mode("overwrite").parquet(
        _art("media_pixels")
    )
    feats = image_features(media, grid=4, fake_decode=True)
    return feats.select(
        "media_id",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 6).alias("feat_sum"),
        F.size("feature").alias("feat_dim"),
    )


# flat pixel index i (row-major H×W×C, 16×16×3): row = i // 48, col = (i // 3) % 16,
# grid cell (a, b) = (row // 4, col // 4); every cell pools exactly 48 pixels, so
# mean = sum/48. The REAL casts round exactly where numpy's float32 does.
_ORACLE_MM_FEATURES = f"""
WITH px AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/media_pixels/*.parquet')),
flat AS (
  SELECT media_id, unnest(range(0, len(pix))) AS i, unnest(pix) AS v FROM px
),
cell AS (
  SELECT media_id, (i // 48) // 4 AS a, ((i // 3) % 16) // 4 AS b,
         CAST(CAST(sum(v) / 48.0 AS REAL) / 255.0 AS REAL) AS f
  FROM flat GROUP BY 1, 2, 3
)
SELECT media_id, round(sum(CAST(f AS DOUBLE)), 6) AS feat_sum, CAST(16 AS INT) AS feat_dim
FROM cell
GROUP BY media_id
HAVING (SELECT count(*) FROM px) = 100
   AND (SELECT min(len(pix)) || '/' || max(len(pix)) FROM px) = '768/768'
"""


def _q_png_features(spark, sf_dir):
    """image_features over REAL PNG payloads — no fake decoder anywhere: the
    media table carries actual PNG bytes (pure-stdlib encoder, filter types
    cycling 0-4), the production mapInPandas path decodes them with the
    pure-stdlib PNG codec (functions/codecs.py), and the decoded-PIXEL
    artifact lets DuckDB replay the grid pooling + feature arithmetic in
    float32-exact SQL. Together with the codec round-trip tests this verifies
    the whole real-decode pipeline: encode → Spark decode → pooled features
    all hash-checked."""
    media = synthesize_media_lossless(spark, 200)
    decoded_pixels(media, fake_decode=False).write.mode("overwrite").parquet(
        _art("png_pixels")
    )
    feats = image_features(media, grid=4, fake_decode=False)
    return feats.select(
        "media_id",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")), 6).alias("feat_sum"),
        F.size("feature").alias("feat_dim"),
    )


_ORACLE_PNG_FEATURES = f"""
WITH px AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/png_pixels/*.parquet')),
flat AS (
  SELECT media_id, unnest(range(0, len(pix))) AS i, unnest(pix) AS v FROM px
),
cell AS (
  SELECT media_id, (i // 48) // 4 AS a, ((i // 3) % 16) // 4 AS b,
         CAST(CAST(sum(v) / 48.0 AS REAL) / 255.0 AS REAL) AS f
  FROM flat GROUP BY 1, 2, 3
)
SELECT media_id, round(sum(CAST(f AS DOUBLE)), 6) AS feat_sum, CAST(16 AS INT) AS feat_dim
FROM cell
GROUP BY media_id
HAVING (SELECT count(*) FROM px) = 100
   AND (SELECT min(len(pix)) || '/' || max(len(pix)) FROM px) = '768/768'
"""


def _q_wav_features(spark, sf_dir):
    """audio_features over REAL RIFF/WAVE payloads — no fake decoder: the media
    table carries actual PCM16 WAV bytes, the production mapInPandas path
    decodes them with the pure-stdlib WAV codec (functions/codecs.py), and the
    decoded-PCM artifact lets DuckDB replay the window-RMS arithmetic
    BIT-EXACTLY: samples are k/2^15 (≤16 mantissa bits), so v*v is exact in
    double and the 256-term window sum stays ≤40 bits — order-independent exact
    — then sqrt→float32 rounds identically in both engines. No rounding in the
    compared values at all."""
    media = synthesize_media_lossless(spark, 200)
    decoded_samples(media, 2048, fake_decode=False).write.mode("overwrite").parquet(
        _art("wav_pcm")
    )
    feats = audio_features(media, n_windows=8, window_samples=256, fake_decode=False)
    return feats.select("media_id", F.posexplode("feature")).select(
        "media_id",
        F.col("pos").cast("int").alias("win_idx"),
        F.col("col").cast("double").alias("rms"),
    )


_ORACLE_WAV_FEATURES = f"""
WITH pcm AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/wav_pcm/*.parquet')),
flat AS (
  SELECT media_id, unnest(range(0, len(samples))) AS i, unnest(samples) AS v FROM pcm
),
win AS (
  SELECT media_id, CAST(i // 256 AS INT) AS win_idx,
         CAST(CAST(sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) / 256.0) AS REAL) AS DOUBLE) AS rms
  FROM flat GROUP BY 1, 2
)
SELECT media_id, win_idx, rms FROM win
WHERE (SELECT count(*) FROM pcm) = 100
  AND (SELECT min(len(samples)) || '/' || max(len(samples)) FROM pcm) = '2048/2048'
"""


def _q_media_neardup(spark, sf_dir):
    """Document-level media dedup COMPOSITION (pipeline-level evidence for the
    multimodal family): synthesized media table with planted duplicate payloads
    → image_features (mapInPandas Arrow decode, stub codec honestly faked) →
    embedding_near_dups (SRP-bucketed cosine) over the feature vectors. The
    fake decoder is a pure function of the payload, so payload duplicates MUST
    surface as cosine-1 near-dup pairs.

    Hash-oracled via the materialized-artifact pattern: the FEATURE table (the
    decode boundary's output) is written to parquet; everything downstream —
    the splitmix SRP hyperplanes (embedded as SQL VALUES), bucket assignment,
    the bucket self-join, cosine, and the threshold — is replayed by DuckDB
    independently. Determinism: seeded media synthesis + deterministic
    features."""
    media = synthesize_media(spark, 300).filter(F.col("kind") == "image")
    dups = media.filter(F.col("media_id").isin([f"m-{3 * i}" for i in range(20)])).select(
        F.concat(F.lit("dup-"), "media_id").alias("media_id"), "kind", "payload", "meta"
    )
    feats = image_features(media.unionByName(dups), grid=4, fake_decode=True)
    path = _art("media_features")
    feats.write.mode("overwrite").parquet(path)
    feats2 = spark.read.parquet(path)
    pairs = S.embedding_near_dups(
        feats2.select("media_id", F.transform("feature", lambda x: x.cast("double")).alias("feature")),
        threshold=0.999, dim=16, n_planes=6, vec_id="media_id", vec_col="feature",
    )
    return pairs.select("id_a", "id_b", F.round("score", 6).alias("score"))


def _media_neardup_oracle() -> str:
    """Replays embedding_near_dups from the materialized feature artifact: the
    6×16 splitmix plane matrix (pure function of (seed=7, dim=16)) as VALUES,
    bucket = sign bits of the projections, pairs = bucket self-join with
    id_a < id_b, cosine ≥ 0.999 (same VALUES-plane trick as _srp_oracle)."""
    planes = S._hyperplanes(16, 6, 7)
    rows = [
        f"({j}, {i + 1}, {float(planes[j, i])!r})"
        for j in range(planes.shape[0])
        for i in range(planes.shape[1])
    ]
    values = ",\n    ".join(rows)
    return f"""
WITH planes(j, i, w) AS (VALUES
    {values}),
f AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/media_features/*.parquet')),
comps AS (
  SELECT media_id, unnest(range(1, len(feature) + 1)) AS i, unnest(feature)::DOUBLE AS x
  FROM f
),
proj AS (
  SELECT c.media_id, p.j, sum(c.x * p.w) AS pr
  FROM comps c JOIN planes p ON p.i = c.i
  GROUP BY 1, 2
),
bkt AS (
  SELECT media_id, CAST(sum(CASE WHEN pr > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1
),
v AS (SELECT f.media_id, f.feature, b.bucket FROM f JOIN bkt b USING (media_id)),
pairs AS (
  SELECT a.media_id AS id_a, b2.media_id AS id_b, a.feature AS fa, b2.feature AS fb
  FROM v a JOIN v b2 USING (bucket)
  WHERE a.media_id < b2.media_id
),
comp AS (
  SELECT id_a, id_b, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
  FROM (SELECT id_a, id_b, unnest(fa)::DOUBLE AS a, unnest(fb)::DOUBLE AS b FROM pairs)
  GROUP BY id_a, id_b
)
SELECT DISTINCT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 6) AS score
FROM comp
WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.999
  AND (SELECT count(*) FROM f) = 120
"""


# ---------------------------------------------------------------------------
# Streaming family (Structured Streaming drained with availableNow — the drain
# is deterministic, so the streaming operators get full hash oracles like the
# batch family; engine-added, reference is batch-only per its README.md:158)
# ---------------------------------------------------------------------------

_STREAM_EPOCH = 1767225600  # fixed; all synthetic ts within one watermark horizon


def _drain_to_table(spark, stream_df, prefix: str):
    """availableNow drain into a uniquely-named in-memory table; returns it."""
    import uuid as _uuid

    name = f"{prefix}_{_uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark over the 128-bit
    fingerprint): documents + a planted duplicate slice flow through a
    file-source stream with synthetic timestamps inside one watermark horizon
    (span 300 s < 10 min ⇒ every duplicate is guaranteed caught — no state
    eviction mid-drain). The survivor of a text group is an arbitrary member
    (documented dropDuplicates semantics), so the result is projected onto the
    columns every member shares: the text itself. If the stream failed to drop
    a duplicate the row count diverges from the oracle's DISTINCT."""
    from rastr_spark.streaming.updates import streaming_dedup_exact

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 600000).alias("doc_id"), "text"
    )
    src = d.unionByName(dup).withColumn(
        "ts", F.timestamp_seconds(F.lit(_STREAM_EPOCH) + F.col("doc_id") % 300)
    )
    path = _art("stream_dedup_src")
    src.repartition(4).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema("doc_id bigint, text string, ts timestamp").parquet(path)
    out = streaming_dedup_exact(stream, text_col="text", ts_col="ts", watermark="10 minutes")
    table = _drain_to_table(spark, out, "sdedup")
    return table.select("text", F.length("text").cast("long").alias("text_len"))


_ORACLE_STREAMING_DEDUP = """
SELECT DISTINCT text, length(text)::BIGINT AS text_len FROM documents
"""


def _q_text_dup_windows(spark, sf_dir):
    """Substring-level duplication signal (Lee et al. 2022 span dedup, public
    method): fraction of each doc's distinct 8-token windows appearing in ≥2
    distinct docs. 40 planted docs share a boilerplate suffix (and duplicate
    their source doc's text), so both the planted and the original docs carry
    non-trivial dup fractions. md5 hash family — DuckDB replays the window
    hashing, the distinct-doc counts, and the per-doc fractions bit-for-bit."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        F.concat("text", F.lit(_DUP_WINDOW_SUFFIX)).alias("text"),
    )
    src = d.unionByName(planted)
    return D.duplicated_window_stats(src, window=8, hash_family="md5")


_DUP_WINDOW_SUFFIX = (
    " zzshared boilerplate footer sentence tokens repeated across corpus pages verbatim"
)


def _dup_windows_oracle() -> str:
    src = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 800000 AS doc_id, text || '{_DUP_WINDOW_SUFFIX}' AS text
      FROM documents WHERE doc_id < 40
    """
    return f"""
WITH src AS ({src}),
t AS ({_toks_sql("src")}),
w AS (
  SELECT DISTINCT doc_id, md5(array_to_string(ts[g:g+7], ' ')) AS wh
  FROM (SELECT doc_id, ts, unnest(range(1, greatest(len(ts) - 6, 1))) AS g FROM t)
  WHERE len(ts) >= 8
),
shared AS (SELECT wh FROM w GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
per AS (SELECT doc_id, count(*) AS ndup FROM w JOIN shared USING (wh) GROUP BY doc_id),
nw AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id)
SELECT s.doc_id,
       coalesce(nw.n_windows, 0) AS n_windows,
       coalesce(per.ndup, 0) AS n_dup_windows,
       CASE WHEN coalesce(nw.n_windows, 0) > 0
            THEN coalesce(per.ndup, 0)::DOUBLE / nw.n_windows::DOUBLE
            ELSE 0.0 END AS dup_fraction
FROM (SELECT doc_id FROM src) s
LEFT JOIN nw USING (doc_id)
LEFT JOIN per USING (doc_id)
"""


def _q_streaming_window_stats(spark, sf_dir):
    """Watermarked tumbling-window per-tile stats over a synthetic cell-update
    stream derived from lineitem (deterministic ts/row/col/value), drained with
    availableNow in complete mode (append would emit only watermark-finalized
    windows). The oracle replays the 1-minute window and tile bucketing as
    plain GROUP BY — watermark semantics reduce to it because every synthetic
    ts lies within one horizon (no late-drop ambiguity in a bounded drain)."""
    from rastr_spark.streaming.updates import windowed_tile_stats

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = _read(spark, sf_dir, "lineitem")
    src = li.select(
        F.timestamp_seconds(F.lit(_STREAM_EPOCH) + F.col("l_orderkey") % 300).alias("ts"),
        (F.col("l_partkey") % 512).cast("int").alias("row"),
        (F.col("l_suppkey") % 512).cast("int").alias("col"),
        F.col("l_quantity").cast("double").alias("value"),
    )
    path = _art("stream_updates_src")
    src.repartition(4).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema("ts timestamp, row int, col int, value double").parquet(path)
    stats = windowed_tile_stats(stream, tile_size=256, window="1 minute", watermark="2 minutes")
    import uuid as _uuid

    from rastr_spark.streaming.updates import run_to_memory

    name = f"swin_{_uuid.uuid4().hex[:10]}"
    run_to_memory(stats, name).awaitTermination()
    return spark.table(name).select(
        F.unix_timestamp("window_start").alias("win_epoch"),
        "tile_row", "tile_col", "cnt",
        F.round("s", 6).alias("s"),
        F.round("mean", 6).alias("mean"),
        "mn", "mx",
    )


_ORACLE_STREAMING_WINDOW = f"""
SELECT (({_STREAM_EPOCH} + l_orderkey % 300) // 60) * 60 AS win_epoch,
       ((l_partkey % 512) // 256)::INT AS tile_row,
       ((l_suppkey % 512) // 256)::INT AS tile_col,
       count(*) AS cnt,
       round(sum(l_quantity::DOUBLE), 6) AS s,
       round(sum(l_quantity::DOUBLE) / count(*), 6) AS mean,
       min(l_quantity::DOUBLE) AS mn,
       max(l_quantity::DOUBLE) AS mx
FROM lineitem
GROUP BY 1, 2, 3
"""


def _q_streaming_neardup_index(spark, sf_dir):
    """Streaming near-dup detection against the PERSISTED dedup index — the
    batch (build_dedup_index) and streaming (streaming_near_dup_hits_vs_index)
    paths share one index contract: params manifest validated, reference
    buckets recomputed from the stored fixed-width signatures. md5 hash family
    so DuckDB replays BOTH sides' banding bit-for-bit: the reference side from
    the persisted signature artifact, the stream side from the raw documents.
    Corpus = even doc_ids; stream = odd doc_ids plus planted near-dups of the
    first indexed docs (one token appended)."""
    from rastr_spark.streaming.updates import streaming_near_dup_hits_vs_index

    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    index_dir = _art("stream_index")
    D.build_dedup_index(
        corpus, index_dir=index_dir, n=3, num_hashes=8, bands=4,
        threshold=0.8, hash_family="md5",
    )
    planted = d.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 40)).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat("text", F.lit(" zzqx")).alias("text"),
    )
    stream_src = d.filter(F.col("doc_id") % 2 == 1).unionByName(planted)
    path = _art("stream_neardup_src")
    stream_src.repartition(4).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(path)
    hits = streaming_near_dup_hits_vs_index(
        stream, index_dir, n=3, num_hashes=8, bands=4, hash_family="md5"
    )
    table = _drain_to_table(spark, hits, "sneardup")
    return table.select("stream_id", "ref_id", "canonical_id", "band")


def _streaming_neardup_oracle() -> str:
    stream_docs = """
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 700000 AS doc_id, text || ' zzqx' AS text
      FROM documents WHERE doc_id % 2 = 0 AND doc_id < 40
    """
    mins = ", ".join(f"min(md5(gram || ':{i}')) AS h{i}" for i in range(8))
    stream_bands = " UNION ALL ".join(
        f"SELECT doc_id AS stream_id, {bi} AS band, h{2 * bi} || '|' || h{2 * bi + 1} AS bucket FROM ssig"
        for bi in range(4)
    )
    ref_bands = " UNION ALL ".join(
        f"SELECT id AS ref_id, canonical_id, {bi} AS band, sig[{2 * bi + 1}] || '|' || sig[{2 * bi + 2}] AS bucket FROM isig"
        for bi in range(4)
    )
    # staleness guard: the persisted signature artifact must cover exactly the
    # index corpus's shingling distinct texts
    guard = """(SELECT count(*) FROM isig) = (
      SELECT count(DISTINCT text) FROM documents
      WHERE doc_id % 2 = 0
        AND len(list_filter(string_split(lower(text), ' '), t -> t <> '')) >= 3)"""
    return f"""
WITH isig AS (SELECT * FROM read_parquet('{_ORACLE_ART_DIR}/stream_index/signatures/*.parquet')),
sdocs AS ({stream_docs}),
grams AS ({_grams_sql("sdocs")}),
ssig AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id),
sb AS ({stream_bands}),
rb AS ({ref_bands})
SELECT stream_id, ref_id, canonical_id, band
FROM sb JOIN rb USING (band, bucket)
WHERE {guard}
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "raster_stats": _q_raster_stats,
        "raster_zonal_stats": _q_zonal_stats,
        "raster_add": _q_raster_add,
        "raster_sample_points": _q_sample_points,
        "raster_mosaic_first_wins": _q_mosaic,
        "raster_quantiles": _q_quantiles,
        "raster_crop": _q_crop,
        "raster_vectorize_fishnet": _q_vectorize,
        "raster_knn": _q_knn,
        "raster_dilate": _q_dilate,
        "raster_sobel_interior": _q_sobel,
        "raster_blur_interior": _q_blur,
        "raster_resample_2x_down": _q_resample,
        "raster_resample_2x_up": _q_resample_up,
        "raster_extrapolate_nn": _q_extrapolate,
        "raster_distance_to_box": _q_distance,
        "raster_taper_border": _q_taper,
        "raster_normalize_clamp": _q_normalize,
        "raster_rasterize_boxes": _q_rasterize_boxes,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_ngram_jaccard_fast": _q_ngram_jaccard_fast,  # gram-hash artifact oracle
        "dedup_fuzzy": _q_dedup_fuzzy,
        "pipeline_curate": _q_pipeline_curate,
        "dedup_minhash_lsh": _q_minhash_lsh,
        # oracle-verified: index build + shard assignment replayed end-to-end
        "dedup_incremental": _q_dedup_incremental,
        "text_token_stats": _q_token_stats,
        "text_quality_langid": _q_quality_langid,
        "text_bpe_tokens": _q_text_bpe_tokens,
        "sim_embedding_topk": _q_embedding_topk,
        "events_hourly": _q_events_hourly,
        "tpch_q1_pricing_summary": _q_tpch_q1,
        "nation_revenue_join": _q_nation_revenue,
        # oracle-verified via materialized doc artifact (see _ORACLE_FLAGSHIP):
        "flagship_doc_zonal": _q_flagship,
        # oracle-verified: deterministic hyperplanes embedded as SQL VALUES
        "sim_srp_topk": _q_srp_topk,
        # oracle-verified: centroid index materialized, probing replayed in SQL
        "sim_ivf_topk": _q_ivf_topk,
        # oracle-verified via materialized hash artifacts (signatures / simhash
        # tables written to parquet; all downstream logic replayed in SQL):
        "dedup_minhash_fast": _q_minhash_fast,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_hamming": _q_simhash_hamming,
        # oracle-verified via materialized decode-boundary artifacts (pixel
        # buffer / feature table written to parquet; pooling arithmetic and
        # SRP bucketing + cosine replayed in SQL — only the stub codec itself
        # is outside the replay):
        "multimodal_image_features": _q_multimodal_features,
        "multimodal_media_neardup": _q_media_neardup,
        # REAL codecs (pure-stdlib PNG/WAV, functions/codecs.py): production
        # decode path end-to-end with no fake decoder anywhere; the decoded
        # pixel/PCM artifact lets SQL replay everything downstream of the codec
        "multimodal_png_features": _q_png_features,
        "multimodal_wav_features": _q_wav_features,
        # oracle-verified via the materialized pre-stitch segment artifact
        # (stitch connectivity replayed as a recursive CTE; only the
        # marching-squares kernel itself is outside the replay):
        "raster_contour_summary": _q_contour,
        # oracle-verified: fixed Delaunay embedded as VALUES, barycentric in SQL
        "raster_point_cloud_interp": _q_point_cloud,
        # streaming family, drained deterministically with availableNow:
        # exact dedup through the watermark-bounded state store; near-dup
        # hits as a stream-static join against the persisted dedup index
        "streaming_dedup_exact": _q_streaming_dedup,
        "streaming_neardup_index": _q_streaming_neardup_index,
        "streaming_window_stats": _q_streaming_window_stats,
        # substring-level (span) dedup signal — Lee et al. 2022 style
        "text_dup_windows": _q_text_dup_windows,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "raster_stats": _ORACLE_RASTER_STATS,
        "raster_zonal_stats": _ORACLE_ZONAL,
        "raster_add": _ORACLE_RASTER_ADD,
        "raster_sample_points": _ORACLE_SAMPLE,
        "raster_mosaic_first_wins": _ORACLE_MOSAIC,
        "raster_quantiles": _ORACLE_QUANTILES,
        "raster_crop": _ORACLE_CROP,
        "raster_vectorize_fishnet": _ORACLE_VECTORIZE,
        "raster_knn": _ORACLE_KNN,
        "raster_dilate": _ORACLE_DILATE,
        "raster_sobel_interior": _ORACLE_SOBEL,
        "raster_blur_interior": _blur_oracle(),
        "raster_resample_2x_down": _ORACLE_RESAMPLE,
        "raster_resample_2x_up": _ORACLE_RESAMPLE_UP,
        "raster_extrapolate_nn": _ORACLE_EXTRAPOLATE,
        "raster_distance_to_box": _ORACLE_DISTANCE,
        "raster_taper_border": _ORACLE_TAPER,
        "raster_normalize_clamp": _ORACLE_NORMALIZE,
        "raster_rasterize_boxes": _ORACLE_RASTERIZE,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "dedup_ngram_jaccard": _ORACLE_JACCARD,
        "dedup_fuzzy": _ORACLE_DEDUP_FUZZY,
        "pipeline_curate": _ORACLE_PIPELINE,
        "dedup_minhash_lsh": _minhash_oracle(),
        "text_token_stats": _ORACLE_TOKEN_STATS,
        "text_quality_langid": _ORACLE_QUALITY,
        "text_bpe_tokens": _ORACLE_BPE_TOKENS,
        "sim_embedding_topk": _ORACLE_TOPK,
        "events_hourly": _ORACLE_EVENTS,
        "tpch_q1_pricing_summary": _ORACLE_TPCH_Q1,
        "nation_revenue_join": _ORACLE_NATION_REVENUE,
        "raster_point_cloud_interp": _point_cloud_oracle(),
        "sim_srp_topk": _srp_oracle(),
        "flagship_doc_zonal": _ORACLE_FLAGSHIP,
        "sim_ivf_topk": _ORACLE_IVF,
        "dedup_ngram_jaccard_fast": _ORACLE_JACCARD_FAST,
        "dedup_minhash_fast": _ORACLE_MINHASH_FAST,
        "dedup_simhash": _ORACLE_SIMHASH,
        "dedup_simhash_hamming": _ORACLE_SIMHASH_HAMMING,
        "multimodal_image_features": _ORACLE_MM_FEATURES,
        "multimodal_media_neardup": _media_neardup_oracle(),
        "multimodal_png_features": _ORACLE_PNG_FEATURES,
        "multimodal_wav_features": _ORACLE_WAV_FEATURES,
        "raster_contour_summary": _contour_oracle(),
        "dedup_incremental": _incremental_oracle(),
        "streaming_dedup_exact": _ORACLE_STREAMING_DEDUP,
        "streaming_neardup_index": _streaming_neardup_oracle(),
        "streaming_window_stats": _ORACLE_STREAMING_WINDOW,
        "text_dup_windows": _dup_windows_oracle(),
    }
