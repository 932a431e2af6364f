"""Seeded benchmark inputs and their expected answers.

Inputs are generated with the engine's own sources (`synth_rmat`,
`synth_pages`) and written as parquet, which stands in for the Iceberg
tables of a deployment. Every run generates them afresh, before its
warm-up, so the set-up sees the same JVM state whether or not the seed
was seen before. Expected answers come from code that shares nothing
with the engine under test: DuckDB (the repo's oracle SQL, and a regexp
extraction for ingest) and a numpy union-find for components. They are
computed once per (workload, seed) and cached. Neither generation nor
the oracle is part of any timed metric.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np

# The ingest contract, restated independently of plans/ingest.py:
# every `<a href="...">` of a page is one edge; vertex ids are the
# 0-based rank of the url among page urls and link targets.
INGEST_SQL = """
WITH pages AS (SELECT url, decode(html) AS html FROM read_parquet('{pages}')),
links AS (
    SELECT url AS src_url,
           unnest(regexp_extract_all(html, '<a href="([^"]+)">', 1)) AS dst_url
    FROM pages
),
urls AS (SELECT url FROM pages UNION SELECT dst_url AS url FROM links),
dict AS (
    SELECT url, CAST(row_number() OVER (ORDER BY url) - 1 AS BIGINT) AS id
    FROM urls
)
SELECT ds.id AS src, dd.id AS dst
FROM links
JOIN dict ds ON ds.url = links.src_url
JOIN dict dd ON dd.url = links.dst_url
"""

# Undirected simple edges: the edges a degree orientation keeps.
CANONICAL_SQL = """
SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
FROM ({raw}) WHERE src <> dst
"""


def edge_pairs(src, dst) -> np.ndarray:
    """Edge multiset as a lexicographically sorted (m, 2) int64 array."""
    pairs = np.stack([np.asarray(src, np.int64), np.asarray(dst, np.int64)], axis=1)
    return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]


def union_find_components(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(vertex, component) of an undirected edge list, component = min
    vertex id: min-label propagation with pointer jumping."""
    verts, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = idx[: len(a)], idx[len(a):]
    label = np.arange(len(verts))
    while True:
        before = label.copy()
        lo = np.minimum(label[u], label[v])
        np.minimum.at(label, u, lo)
        np.minimum.at(label, v, lo)
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, before):
            return verts, verts[label]


def _triangle_answers(con, graph_glob: str) -> dict:
    from wedge_parallel_triangle_counting_spark.plans.oracles import triangles_sql

    raw = f"SELECT src, dst FROM read_parquet('{graph_glob}')"
    m = con.execute(f"SELECT count(*) FROM ({CANONICAL_SQL.format(raw=raw)})").fetchone()[0]
    return {
        "work_edges": np.int64(m),  # oriented edges: one per undirected edge
        "triangles": np.int64(con.execute(triangles_sql(raw)).fetchone()[0]),
    }


def _web_answers(con, spec, pages_glob: str, graph: str) -> dict:
    from wedge_parallel_triangle_counting_spark.plans.oracles import (
        labelprop_sql,
        pagerank_sql,
    )

    con.execute(f"COPY ({INGEST_SQL.format(pages=pages_glob)}) TO '{graph}' (FORMAT parquet)")
    raw = f"SELECT src, dst FROM read_parquet('{graph}')"
    ing = con.execute(raw).fetchnumpy()
    canon = con.execute(CANONICAL_SQL.format(raw=raw)).fetchnumpy()
    pr = con.execute(pagerank_sql(raw, spec.pr_iters, ndigits=15) + " ORDER BY v").fetchnumpy()
    lp = con.execute(labelprop_sql(raw, spec.lp_iters) + " ORDER BY v").fetchnumpy()
    cv, cc = union_find_components(canon["a"], canon["b"])
    return {
        "work_edges": np.int64(len(ing["src"])),  # edge rows ingest writes
        "ingest_edges": edge_pairs(ing["src"], ing["dst"]),
        "pr_v": pr["v"].astype(np.int64),
        "pr": pr["pr"].astype(np.float64),
        "lp_v": lp["v"].astype(np.int64),
        "lp": lp["label"].astype(np.int64),
        "cc_v": cv.astype(np.int64),
        "cc": cc.astype(np.int64),
    }


def prepare(spark, spec, seed: int, out: Path, cache_root: Path) -> tuple[dict, dict]:
    """Write the seed's parquet inputs under `out` and return (paths,
    expected answers). Answers are cached under `cache_root`; an entry
    is complete once `done.json`, written last, exists."""
    import duckdb

    from wedge_parallel_triangle_counting_spark.sources.pages import synth_pages
    from wedge_parallel_triangle_counting_spark.sources.rmat import synth_rmat

    paths = {"rmat": str(out / "rmat"), "pages": str(out / "pages")}
    if spec.rmat_scale:
        synth_rmat(spark, scale=spec.rmat_scale, edge_factor=16, seed=seed).write.parquet(
            paths["rmat"]
        )
    if spec.n_pages:
        synth_pages(spark, spec.n_pages, seed=seed).write.parquet(paths["pages"])

    d = cache_root / f"{spec.name}-{spec.fingerprint()}-seed{seed}"
    if not (d / "done.json").is_file():
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        expected = {}
        con = duckdb.connect(config={"threads": 2, "temp_directory": str(out / "duckdb")})
        try:
            if spec.rmat_scale:
                expected.update(_triangle_answers(con, paths["rmat"] + "/*.parquet"))
            if spec.n_pages:
                expected.update(
                    _web_answers(con, spec, paths["pages"] + "/*.parquet", str(out / "web.parquet"))
                )
        finally:
            con.close()
        np.savez(d / "expected.npz", **expected)
        (d / "done.json").write_text(json.dumps({"workload": spec.name, "seed": seed}))
    with np.load(d / "expected.npz") as z:
        return paths, {k: z[k] for k in z.files}
