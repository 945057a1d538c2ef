"""Input generation and oracle results, run in a worker process.

Both touch whole tables in memory (pyarrow for generation, DuckDB for
the oracle), so the benchmark runs them in a separate process: its
own resident set then holds only what the program needs.

Generated inputs are cached per (scale factor, seed) under the
benchmark's work directory: the same seed gives the same files.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

from tools.check_oracle import TABLES
from tools.gen_testdata import generate


def prepare(work_dir: str, sf: float, seed: int) -> str:
    """Directory of generated inputs for (sf, seed), made once: the
    parquet tables plus the JSONL and CSV inputs of the ingest
    operations."""
    final = os.path.join(work_dir, "data", f"sf{sf:g}-seed{seed}")
    if os.path.exists(os.path.join(final, "manifest.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):
        generate(sf, tmp, seed=seed)
    _write_text_inputs(tmp)
    manifest = {}
    for f in sorted(os.listdir(tmp)):
        path = os.path.join(tmp, f)
        rows = (
            pq.read_metadata(path).num_rows
            if f.endswith(".parquet")
            else _count_lines(path) - f.endswith(".csv")
        )
        manifest[f] = {"rows": rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def _count_lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def _write_text_inputs(data_dir: str) -> None:
    """documents as JSONL and lineitem as CSV with a header, from the
    generated parquet."""
    con = _duck(data_dir)
    try:
        con.sql(
            f"COPY (SELECT * FROM documents ORDER BY doc_id) "
            f"TO '{data_dir}/documents.jsonl' (FORMAT JSON)"
        )
        con.sql(
            f"COPY (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber) "
            f"TO '{data_dir}/lineitem.csv' (HEADER, DELIMITER ',')"
        )
    finally:
        con.close()


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    spill = os.path.join(os.path.dirname(os.path.dirname(data_dir)), "duck_spill")
    con.sql(f"SET temp_directory='{spill}'")
    # leave the cores to the Spark check pass it runs beside
    con.sql("SET threads=1")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_result(data_dir: str, sql: str) -> tuple:
    """(columns, DuckDB type names, rows) of one oracle query."""
    con = _duck(data_dir)
    try:
        rel = con.sql(sql)
        return (
            list(rel.columns),
            [str(t) for t in rel.types],
            [tuple(r) for r in rel.fetchall()],
        )
    finally:
        con.close()
