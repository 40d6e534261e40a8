"""Seeded input generator for the pipeline benchmark.

Everything a run feeds the program comes from here, and everything here
is a pure function of the seed: the same seed gives byte-identical
input files and the same expected answers. Sizes, rates and key spaces
are constants (recorded in BENCHMARK.json's workload notes), so runs
with different seeds do the same amount of work; only the values move.

Run as a script, this module is the load generator process of a run
(one process, one thread):

    python3 perfbench/gen.py batch  --seed N --root DIR
    python3 perfbench/gen.py stream --seed N --root DIR --workload W --seconds S

`batch` writes the backfill's CSV partitions and dimension table and
exits. `stream` publishes both backlogs, prints ``ready``, waits for a
``go <t0>`` line on stdin, then publishes the open-loop schedule: file
i is due at ``t0 + i * TICK_S`` whether or not the system keeps up. It
stamps each file's due time, records how late it actually published,
and writes a manifest and the expected sink state for the checks.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np

# -- sizes ---------------------------------------------------------------------
@dataclass(frozen=True)
class Sizes:
    """Input sizes of a run. `full` is the benchmark; `tiny` only exists
    so the benchmark's own tests can run every workload in seconds."""

    # batch_backfill: each pass is `small_dates` small dates and
    # `large_dates` large ones, so the median task is set by per-task fixed cost and
    # throughput by the large dates' per-row cost.
    small_dates: int = 4
    small_rows: int = 1_500
    large_dates: int = 1
    large_files: int = 4
    large_file_rows: int = 50_000
    warm_passes: int = 3  # untimed passes over the same dates first (JIT, codegen, caches)
    # streams: the fixed backlog of the drain measurement, read by a fresh
    # query `drain_files` files per micro-batch
    drain_files: int = 24
    drain_file_rows: int = 2_000
    drain_batches: int = 5
    # streams: open-loop warm-up flow before the timed window (counted in set-up)
    preroll_s: float = 6.0
    # stream_upsert: keys k0..k<key_space-1>, every one written during warm-up
    key_space: int = 50_000
    warm_files: int = 5


SIZES = {
    "full": Sizes(),
    "tiny": Sizes(
        small_dates=2, small_rows=40, large_dates=1, large_files=2, large_file_rows=400, warm_passes=1,
        drain_files=2, drain_file_rows=50, drain_batches=2, preroll_s=1.0, key_space=300, warm_files=2,
    ),
}

DIM_SKUS = 1_000  # parquet dimension; orders draw from 5% more, so some miss the join
ORDER_SKUS = 1_050
STATUSES = ("paid", "shipped", "cancelled", "refunded")
STATUS_P = (0.55, 0.25, 0.12, 0.08)

# -- stream rates (the same at every size) ------------------------------------
RATE = 1_000  # original events per second, open loop; ~4% of the ~26k rows/s a drain reaches
TICK_S = 0.2  # one published file per tick
DUP_SHARE = 0.10  # stream_dedup: share of events re-sent ...
DUP_DELAY_S = (1.0, 3.0)  # ... this long after the original (watermark 10 s)
KEY_SKEW = 1.1  # stream_upsert: P(key of rank r) ~ 1 / (r + 1) ** KEY_SKEW


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible generator per named input stream."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


# -- batch_backfill ------------------------------------------------------------
def batch_dates(sz: Sizes) -> list[tuple[str, int, int]]:
    """Timed bindings of one pass as (date, files, rows per file), in run
    order: the large dates sit among the small ones."""
    small = [(f"2024-01-{d + 1:02d}", 1, sz.small_rows) for d in range(sz.small_dates)]
    large = [(f"2024-02-{d + 1:02d}", sz.large_files, sz.large_file_rows) for d in range(sz.large_dates)]
    out = []
    step = sz.small_dates // sz.large_dates
    for i, s in enumerate(small):
        out.append(s)
        if i % step == step - 1:
            out.append(large[i // step])
    return out


def _orders_csv(rng: np.random.Generator, date: str, part: int, n: int) -> bytes:
    user = rng.integers(1, 200_000, n)
    sku = rng.integers(0, ORDER_SKUS, n)
    qty = rng.integers(0, 10, n)
    price = rng.integers(100, 100_000, n)
    status = rng.choice(len(STATUSES), n, p=STATUS_P)
    lines = ["order_id,user_id,sku,qty,price_cents,status"]
    lines += [
        f"{date}-{part}-{i},{u},S{s:04d},{q},{p},{STATUSES[st]}"
        for i, (u, s, q, p, st) in enumerate(zip(user.tolist(), sku.tolist(), qty.tolist(), price.tolist(), status.tolist()))
    ]
    return ("\n".join(lines) + "\n").encode()


def write_batch_inputs(seed: int, root: str, sz: Sizes) -> None:
    """CSV partitions under root/in/<date>/ and the sku dimension at
    root/dim.parquet. The dimension is written with pyarrow, pinned
    options, so its bytes depend on the seed only."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for date, files, rows in batch_dates(sz):
        d = os.path.join(root, "in", date)
        os.makedirs(d, exist_ok=True)
        rng = _rng(seed, f"orders:{date}")
        for part in range(files):
            with open(os.path.join(d, f"part-{part}.csv"), "wb") as f:
                f.write(_orders_csv(rng, date, part, rows))
    rng = _rng(seed, "dim")
    cats = [f"cat-{c}" for c in rng.integers(0, 40, DIM_SKUS).tolist()]
    table = pa.table(
        {
            "sku": [f"S{s:04d}" for s in range(DIM_SKUS)],
            "category": cats,
            "weight_g": pa.array(rng.integers(10, 5_000, DIM_SKUS), pa.int32()),
        }
    )
    pq.write_table(table, os.path.join(root, "dim.parquet"), compression="snappy", write_statistics=False)


# -- streams -------------------------------------------------------------------
def _iso(t: float) -> str:
    """Event-time stamp in the form the queue's JSON reader parses (UTC, ms)."""
    ms = int(round(t * 1000))
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ms // 1000)) + f".{ms % 1000:03d}"


class StreamPlan:
    """The complete input of one stream run, fixed before anything is
    published. Messages carry no wall-clock time yet: event times are
    offsets that become ``base + offset`` at publish time, so plans of
    one seed compare byte for byte.

    warm:     files published before the measured query starts
    drain:    the fixed backlog the drain query starts on
    schedule: open-loop files; entry i is due at t0 + i * TICK_S
    """

    def __init__(self, workload: str, seed: int, seconds: float, sz: Sizes):
        if workload not in ("stream_dedup", "stream_upsert"):
            raise ValueError(f"no stream plan for {workload}")
        self.workload = workload
        self.seed = seed
        self.sz = sz
        self.n_ticks = int(round((sz.preroll_s + seconds) / TICK_S))
        self.preroll_ticks = int(round(sz.preroll_s / TICK_S))
        self._seq = 0
        if workload == "stream_dedup":
            self._build_dedup()
        else:
            self._build_upsert()

    # Messages are (key, value dict, event-time offset in seconds).
    def _build_dedup(self) -> None:
        rng = _rng(self.seed, "dedup")
        per_tick = int(RATE * TICK_S)

        def originals(n: int, prefix: str) -> list:
            users = rng.integers(1, 5_000, n).tolist()
            amounts = rng.integers(1, 10_000, n).tolist()
            out = []
            for u, a in zip(users, amounts):
                eid = f"{prefix}{self._seq}"
                self._seq += 1
                out.append((eid, {"event_id": eid, "user_id": u, "amount": a}))
            return out

        def with_dups(msgs: list) -> list:
            n_dup = int(len(msgs) * DUP_SHARE)
            pick = rng.choice(len(msgs), n_dup, replace=False)
            return msgs + [msgs[i] for i in sorted(pick.tolist())]

        self.warm = [[(k, v, 0.0) for k, v in with_dups(originals(per_tick, "w"))]]
        self.drain = [
            [(k, v, 0.0) for k, v in with_dups(originals(self.sz.drain_file_rows, "d"))]
            for _ in range(self.sz.drain_files * self.sz.drain_batches)
        ]
        self.schedule: list[list] = [[] for _ in range(self.n_ticks)]
        self.original_rows = [0] * self.n_ticks
        for t in range(self.n_ticks):
            msgs = originals(per_tick, "e")
            self.original_rows[t] = len(msgs)
            self.schedule[t].extend((k, v, t * TICK_S) for k, v in msgs)
            n_dup = int(len(msgs) * DUP_SHARE)
            pick = rng.choice(len(msgs), n_dup, replace=False).tolist()
            delays = rng.uniform(*DUP_DELAY_S, n_dup).tolist()
            for i, d in zip(pick, delays):
                at = t + int(round(d / TICK_S))
                if at < self.n_ticks:  # re-sends past the end are never sent
                    k, v = msgs[i]
                    self.schedule[at].append((k, v, t * TICK_S))

    def _build_upsert(self) -> None:
        rng = _rng(self.seed, "upsert")
        n_keys = self.sz.key_space
        ranks = np.arange(n_keys, dtype=np.float64)
        p = 1.0 / (ranks + 1.0) ** KEY_SKEW
        p /= p.sum()
        perm = rng.permutation(n_keys)  # which key is hot depends on the seed

        def rows(keys: list[int], off: float) -> list:
            vals = rng.integers(0, 1_000_000, len(keys)).tolist()
            out = []
            for k, v in zip(keys, vals):
                out.append((f"k{k}", {"k": f"k{k}", "seq": self._seq, "v": v}, off))
                self._seq += 1
            return out

        def skewed(n: int) -> list[int]:
            return perm[rng.choice(n_keys, n, p=p)].tolist()

        every = rng.permutation(n_keys).tolist()
        per = -(-n_keys // self.sz.warm_files)
        self.warm = [rows(every[i : i + per], 0.0) for i in range(0, n_keys, per)]
        per_tick = int(RATE * TICK_S)
        self.schedule = [rows(skewed(per_tick), t * TICK_S) for t in range(self.n_ticks)]
        self.original_rows = [per_tick] * self.n_ticks
        self.drain = [
            rows(skewed(self.sz.drain_file_rows), 0.0) for _ in range(self.sz.drain_files * self.sz.drain_batches)
        ]

    # -- bookkeeping ---------------------------------------------------------
    def expected(self) -> dict:
        """The sink state a correct run ends with, from the plan alone.

        stream_dedup: the distinct event ids fed to each query (the
        measured query gets warm + schedule, the drain query the drain
        backlog). stream_upsert: last writer (highest seq) per key over
        every row, since all queries write one table in seq order."""
        if self.workload == "stream_dedup":
            live = sorted({k for f in self.warm + self.schedule for k, _, _ in f})
            drain = sorted({k for f in self.drain for k, _, _ in f})
            return {"live_ids": live, "drain_ids": drain}
        state: dict[str, list[int]] = {}
        for f in self.warm + self.schedule + self.drain:
            for k, v, _ in f:
                if k not in state or v["seq"] > state[k][0]:
                    state[k] = [v["seq"], v["v"]]
        return {"table": state}

    def rows(self) -> int:
        return sum(len(f) for f in self.warm + self.drain + self.schedule)

    def digest(self) -> str:
        """sha256 over every message and the expected answer."""
        h = hashlib.sha256()
        for part in (self.warm, self.drain, self.schedule):
            h.update(json.dumps(part, sort_keys=True, separators=(",", ":")).encode())
        h.update(json.dumps(self.expected(), sort_keys=True, separators=(",", ":")).encode())
        return h.hexdigest()


def _publish(queue_dir: str, msgs: list, base: float) -> str:
    from rabbit_data_pipeline_spark.sources.stream import queue_dir_publish

    return queue_dir_publish(queue_dir, [{"key": k, "value": v, "ts": _iso(base + off)} for k, v, off in msgs])


def serve_stream(plan: StreamPlan, root: str, inp, out) -> None:
    """Publisher loop of one stream run (see module docstring)."""
    t_pub = time.time()
    for f in plan.warm:
        _publish(os.path.join(root, "queue_live"), f, t_pub)
    for f in plan.drain:
        _publish(os.path.join(root, "queue_drain"), f, t_pub)
    out.write("ready\n")
    out.flush()
    line = inp.readline().split()
    if not line or line[0] != "go":
        return
    t0 = float(line[1])
    files = []
    q = os.path.join(root, "queue_live")
    for i, msgs in enumerate(plan.schedule):
        due = t0 + i * TICK_S
        now = time.time()
        if now < due:
            time.sleep(due - now)
        path = _publish(q, msgs, t0)
        files.append([os.path.basename(path), due, time.time(), plan.original_rows[i], len(msgs)])
    manifest = {
        "t0": t0, "preroll_ticks": plan.preroll_ticks, "rows": plan.rows(),
        "drain_rows": sum(len(f) for f in plan.drain), "files": files,
    }
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    with open(os.path.join(root, "expected.json"), "w") as f:
        json.dump(plan.expected(), f)
    out.write("done\n")
    out.flush()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=("batch", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", default="stream_dedup")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args(argv)
    sz = SIZES[a.size]
    if a.kind == "batch":
        write_batch_inputs(a.seed, a.root, sz)
        return 0
    serve_stream(StreamPlan(a.workload, a.seed, a.seconds, sz), a.root, sys.stdin, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main(sys.argv[1:]))
