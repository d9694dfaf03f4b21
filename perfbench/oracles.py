"""DuckDB oracle results for the corpus workload, cached with their digest.

The oracle SQL is the program's own `driver_queries.oracle_sql()` text, run
on DuckDB over the unpermuted corpus (the queries are order-insensitive, so
one oracle serves every seed's row order).  Results are cached under
`perfbench/.cache/oracle-<digest>.json`; the digest covers the corpus spec,
the SQL text and the DuckDB version.  Recompute them with

    python3 perfbench/run.py --recompute-oracles
"""

from __future__ import annotations

import dataclasses
import json
import os

from perfbench.inputs import CACHE, CorpusSpec, _digest, corpus_dir

QUERIES = ("dedup_corpus", "dedup_semantic")


def canon(name: str, rows) -> list:
    """Sorted, JSON-shaped result rows: doc ids for dedup_corpus,
    [vec_id, component, is_dup] for dedup_semantic."""
    if name == "dedup_corpus":
        return sorted(int(r[0]) for r in rows)
    return sorted([int(a), int(b), int(c)] for a, b, c in rows)


def compute(sql: dict[str, str], data_dir: str, threads: int) -> dict[str, list]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in QUERIES:
        cols = ["doc_id"] if name == "dedup_corpus" else ["vec_id", "component", "is_dup"]
        df = con.execute(sql[name]).fetchdf()
        out[name] = canon(name, df[cols].itertuples(index=False))
    con.close()
    return out


def expected(spec: CorpusSpec, threads: int, recompute: bool = False) -> dict[str, list]:
    """Oracle results for `spec`, from the cache unless `recompute`."""
    import duckdb

    from nifi_daffodil_spark.plans.driver_queries import oracle_sql

    sql = {k: v for k, v in oracle_sql().items() if k in QUERIES}
    key = {"corpus": dataclasses.asdict(spec), "sql": sql, "duckdb": duckdb.__version__}
    path = os.path.join(CACHE, f"oracle-{_digest(key)}.json")
    if not recompute and os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    res = compute(sql, corpus_dir(spec), threads)
    os.makedirs(CACHE, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, path)
    return res
