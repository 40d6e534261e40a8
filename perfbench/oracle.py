"""Correctness checks: what each sink should hold, computed without Spark.

batch_backfill's expectation is recomputed by DuckDB straight from the
generated CSVs and dimension; the stream workloads' comes from the
generator's own bookkeeping (gen.StreamPlan.expected). Sinks are read
with DuckDB, pyarrow or plain JSON, and streams are read only through
their commit logs, so an uncommitted file never counts.
"""

from __future__ import annotations

import glob
import json
import os

# One canonical text form per column, applied to both sides, so the hash
# does not depend on which engine picked which integer width.
_ROW_HASH = (
    "hash(order_id, CAST(user_id AS VARCHAR), sku, CAST(qty AS VARCHAR), CAST(amount_cents AS VARCHAR), "
    "category, CAST(weight_g AS VARCHAR), day)"
)


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def batch_expected(root: str, dates: list[str]) -> tuple[int, str]:
    """(rows, order-insensitive hash) the backfill's sink should hold for
    `dates`: the pipeline's filter, derived columns and inner join with
    the dimension, evaluated by DuckDB over the generated inputs."""
    files = [f for d in dates for f in sorted(glob.glob(os.path.join(root, "in", d, "*.csv")))]
    con = _duck()
    try:
        row = con.execute(
            f"""
            WITH o AS (
              SELECT *, regexp_extract(filename, '/in/([^/]+)/[^/]+$', 1) AS day
              FROM read_csv(?, header = true, all_varchar = true, filename = true)
            ), kept AS (
              SELECT order_id, CAST(user_id AS BIGINT) AS user_id, o.sku, CAST(qty AS INT) AS qty,
                     CAST(qty AS BIGINT) * CAST(price_cents AS BIGINT) AS amount_cents,
                     category, weight_g, day
              FROM o JOIN read_parquet(?) d ON o.sku = d.sku
              WHERE status <> 'cancelled' AND CAST(qty AS INT) > 0
            )
            SELECT count(*), CAST(coalesce(sum({_ROW_HASH}), 0) AS VARCHAR) FROM kept
            """,
            [files, os.path.join(root, "dim.parquet")],
        ).fetchone()
    finally:
        con.close()
    return int(row[0]), row[1]


def batch_actual(out_root: str, dates: list[str]) -> tuple[int, str]:
    """(rows, hash) of the parquet the backfill committed for `dates`."""
    files = [f for d in dates for f in sorted(glob.glob(os.path.join(out_root, d, "*.parquet")))]
    if not files:
        return 0, "0"
    con = _duck()
    try:
        row = con.execute(
            f"SELECT count(*), CAST(coalesce(sum({_ROW_HASH}), 0) AS VARCHAR) FROM read_parquet(?)", [files]
        ).fetchone()
    finally:
        con.close()
    return int(row[0]), row[1]


# -- stream commit logs -----------------------------------------------------------
def _log_entries(log_dir: str) -> list[dict]:
    """Entries of a Spark metadata log (`<n>` and `<n>.compact` files,
    first line a version tag, then one JSON object per line)."""
    out = []
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, name)) as f:
                lines = f.read().splitlines()[1:]
        except OSError:  # being compacted away
            continue
        out.extend(json.loads(line) for line in lines if line.strip())
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> micro-batch id that read it.

    The file source numbers its own log (one entry per listing that found
    new files); the query's offset log says which source entry each
    micro-batch reached. The two differ once the query has run a no-data
    batch (e.g. to advance the watermark), so map through the offsets."""
    reached: list[tuple[int, int]] = []  # (source log id, first query batch reaching it)
    d = os.path.join(checkpoint, "offsets")
    names = sorted(int(n) for n in os.listdir(d) if n.isdigit()) if os.path.isdir(d) else []
    for n in names:
        with open(os.path.join(d, str(n))) as f:
            lines = f.read().splitlines()
        k = json.loads(lines[2])["logOffset"]
        if not reached or k > reached[-1][0]:
            reached.append((k, n))
    out = {}
    for e in _log_entries(os.path.join(checkpoint, "sources", "0")):
        batch = next((n for k, n in reached if k >= e["batchId"]), None)
        if batch is not None:
            out[os.path.basename(e["path"])] = batch
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit record was written, i.e. the
    moment the batch's sink output became final."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.isdigit():
                out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def committed_file_times(checkpoint: str) -> dict[str, float]:
    """Input file name -> commit time of the batch that read it, for the
    files whose batch has committed."""
    commits = commit_times(checkpoint)
    return {f: commits[b] for f, b in file_batches(checkpoint).items() if b in commits}


def sink_files(out_dir: str) -> list[str]:
    """Data files a streaming file sink has committed (its _spark_metadata log)."""
    adds = {e["path"] for e in _log_entries(os.path.join(out_dir, "_spark_metadata")) if e.get("action") == "add"}
    return sorted(p[len("file://") :] if p.startswith("file://") else p for p in adds)


def data_files(table_dir: str) -> list[str]:
    return sorted(
        os.path.join(table_dir, f) for f in os.listdir(table_dir) if not f.startswith(("_", "."))
    ) if os.path.isdir(table_dir) else []


def dedup_check(out_dir: str, expected_ids: list[str]) -> tuple[bool, int, str]:
    """(ok, output rows, reason): the committed output's event ids must
    be exactly the distinct generated ids, each once."""
    ids = []
    for path in sink_files(out_dir):
        with open(path) as f:
            ids.extend(json.loads(line)["key"] for line in f if line.strip())
    got = set(ids)
    if len(got) != len(ids):
        return False, len(ids), f"{len(ids) - len(got)} duplicate ids in output"
    want = set(expected_ids)
    if got != want:
        return False, len(ids), f"{len(want - got)} ids missing, {len(got - want)} unexpected"
    return True, len(ids), ""


def upsert_check(table_dir: str, expected: dict[str, list[int]]) -> tuple[bool, int, str]:
    """(ok, table rows, reason): one row per key holding the last write."""
    import pyarrow.parquet as pq

    t = pq.read_table(table_dir, columns=["k", "seq", "v"]).to_pydict()
    got: dict[str, list[int]] = {}
    for k, s, v in zip(t["k"], t["seq"], t["v"]):
        if k in got:
            return False, len(t["k"]), f"key {k} appears twice"
        got[k] = [s, v]
    if got != expected:
        wrong = sum(1 for k in expected if got.get(k) != expected[k])
        return False, len(t["k"]), f"{wrong} keys differ, {len(set(got) - set(expected))} unexpected"
    return True, len(t["k"]), ""
