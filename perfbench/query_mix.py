"""query-mix workload: one pass, in fixed order, over short
``__spark_entry__.queries()`` entries, each checked against the DuckDB
oracle of ``__spark_entry__.oracle_sql()``.

The tables the queries read (documents, embeddings, region, nation) are
generated from the seed into the run's work directory.  Their sizes and
distributions are those measured on the repository's sf0.1 test tables
(TESTDATA.md; generator seed 42), which a benchmark checkout does not
hold:

- documents: 5000 pages of 10-100 words (uniform) drawn uniformly from
  a 30-word vocabulary; 5 % of the pages are another page's text with
  " dup" appended; lang en 40 %, zh/es/fr/de 15 % each; 20 sources.
- embeddings: 2000 unit-length 64-d vectors, labels 0-9.
- region and nation: the 5 and 25 rows of sf0.1, verbatim.

One departure: sf0.1 numbers its pages 0..4999.  Here the 5000 ids are
drawn from 0..99999 by the seed, because the spatial queries geocode
pages from their ids alone; a fixed id set would give every seed the
same points."""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry

# query -> per-layer metric: one query for each module the mix covers,
# few enough that a run fits two timed passes
QUERIES = (
    ("rasterize_cells", "webtext.rasterize_s"),
    ("knn_sites_cells", "spatial.knn_cells_s"),
    ("minhash_lsh_pairs", "textops.minhash_lsh_pairs_s"),
    ("cosine_topk", "vector.cosine_topk_s"),
)

N_DOCS = 5000
N_VECS = 2000
DIM = 64
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")

# raster cells the pass builds (the rasterize_cells grid)
CELLS_PER_PASS = entry.GRID ** 2


def write_tables(data_dir: str, seed: int) -> None:
    """Seeded tables with the schema, sizes and distributions of sf0.1."""
    rng = np.random.default_rng(seed)
    os.makedirs(data_dir, exist_ok=True)
    doc_ids = np.sort(rng.choice(20 * N_DOCS, N_DOCS, replace=False))
    texts = [" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101))))
             for _ in range(N_DOCS)]
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        j = (int(i) + int(rng.integers(1, N_DOCS))) % N_DOCS
        texts[i] = texts[j] + " dup"
    langs = rng.choice(_LANGS, N_DOCS, p=(0.4, 0.15, 0.15, 0.15, 0.15))
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{data_dir}/documents.parquet")
    vecs = rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            ).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    }), f"{data_dir}/embeddings.parquet")
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{data_dir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{data_dir}/nation.parquet")


def _norm(v) -> str:
    """Value normalisation of the repository's oracle tests."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.6g}"
    return str(v)


def result_digest(cols, rows) -> str:
    """Order-insensitive digest of a result: sorted column names and the
    sorted normalised rows keyed by column name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha1(repr(sorted(cols)).encode())
    h.update(repr(body).encode())
    return h.hexdigest()


# every (doc, site) pair with the least site id at the same distance from
# that doc.  Coordinates lie on a 0.001-degree grid, so squared distances
# are exact multiples of 1e-6 and rounding to 6 places finds exact ties.
_KNN_TIES = f"""
    with d as (
        select doc_id, {entry.LAT} as lat, {entry.LON} as lon from documents
    ), s as (
        select n_nationkey::bigint as site_id, {entry.SLAT} as slat,
               {entry.SLON} as slon
        from nation
    ), j as (
        select doc_id, site_id,
               round((lat - slat) * (lat - slat)
                     + (lon - slon) * (lon - slon), 6) as d2
        from d, s
    )
    select doc_id, site_id,
           min(site_id) over (partition by doc_id, d2) as tie_site
    from j
"""


class QueryMix:
    name = "query-mix"
    OPS = QUERIES
    # the queries are independent, so the cold pass runs them side by side
    WARMUP_PASSES = 1
    INDEPENDENT_OPS = True

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "tables")
        self.cells = CELLS_PER_PASS
        self.ref: dict[str, str] = {}
        self._tie_site: dict[tuple[int, int], int] = {}
        self._queries = entry.queries()

    def setup(self, tracer) -> None:
        """Write the tables; compute every oracle digest once."""
        import duckdb

        with tracer.span("setup.inputs"):
            write_tables(self.data_dir, self.seed)
        with tracer.span("setup.oracle"):
            oracles = entry.oracle_sql()
            con = duckdb.connect()
            try:
                for t in ("documents", "embeddings", "region", "nation"):
                    con.execute(f"create view {t} as select * from "
                                f"'{self.data_dir}/{t}.parquet'")
                self._tie_site = {
                    (d, s): t for d, s, t in con.execute(_KNN_TIES).fetchall()}
                for q, _ in QUERIES:
                    res = con.execute(oracles[q])
                    cols = [d[0] for d in res.description]
                    self.ref[q] = self._digest(q, cols, res.fetchall())
            finally:
                con.close()

    def run_op(self, op: str, state: dict) -> None:
        df = self._queries[op](self.spark, self.data_dir)
        state[op] = (df.columns, [tuple(r) for r in df.collect()])

    def _digest(self, q: str, cols, rows) -> str:
        """``result_digest``; for ``knn_sites_cells`` each site is first
        replaced by the least site id at exactly its distance.  The engine
        and the oracle round floating-point distances differently, so
        their (distance, site_id) tie rule can pick different sites of an
        exact tie (seed 3100: doc 95900 is 18965473/20000 deg^2 from
        sites 3 and 8).  A site the engine returns twice for one doc is
        kept as is, so the digest still differs."""
        if q != "knn_sites_cells":
            return result_digest(cols, rows)
        di, si = cols.index("doc_id"), cols.index("site_id")
        seen = {(r[di], r[si]) for r in rows}
        if len(seen) == len(rows):
            rows = [r[:si] + (self._tie_site.get((r[di], r[si]), r[si]),)
                    + r[si + 1:] for r in rows]
        return result_digest(cols, rows)

    def check(self, state: dict) -> list[str]:
        return [q for q, (cols, rows) in state.items()
                if self._digest(q, cols, rows) != self.ref[q]]

    def release(self, state: dict) -> None:
        state.clear()

    def probes(self, tracer, group) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass
