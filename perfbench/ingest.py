"""The ``xlsx_ingest`` workload: the reference's GCS-event -> filter ->
XLSX parse -> BigQuery-load lifecycle, drained as a backlog.

``generate`` writes, from a seed, the workbooks a bucket would hold and
one CloudEvent landing file per delivered event, including events the
accept filter must reject (wrong prefix, not ``.xlsx``, null name),
redelivered duplicates (same name and ts) and corrupt workbooks that
must dead-letter. ``drain`` runs ``run_xlsx_etl_pipeline`` over them into
a fresh ``BigQuerySink`` (parquet fallback) and checkpoint; ``check``
verifies what landed against what was generated.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow.parquet as pq

from etl_gcp_function_tmabrasil_spark.sinks.bigquery import BigQuerySink
from etl_gcp_function_tmabrasil_spark.sources.xlsx import write_minimal_xlsx
from etl_gcp_function_tmabrasil_spark.streaming.pipeline import run_xlsx_etl_pipeline
from perfbench.layers import TimedSink

TABLE = "analytics.bench_ingest"
COLUMNS = ["event_id", "user_id", "event_type", "value"]
DDL = "event_id long, user_id long, event_type string, value double"
_EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()


@dataclass
class Backlog:
    bucket: str
    landing: str
    rows_per_book: int
    files_per_batch: int  # landing files each micro-batch admits
    good: dict[str, set[int]] = field(default_factory=dict)  # name -> event ids
    corrupt: set[str] = field(default_factory=set)
    duplicated: set[str] = field(default_factory=set)
    events: int = 0  # landing files (delivered events)
    workbooks: list[str] = field(default_factory=list)  # paths of good workbooks


def generate(root: str, seed: int, batches: int, books_per_batch: int, rows: int) -> Backlog:
    """Write a seeded backlog under ``root``; the same seed gives the same
    bytes and the same delivery order.

    Deliveries come in ``batches`` chunks of one micro-batch each. Every
    chunk holds ``books_per_batch`` new workbooks, one corrupt workbook,
    three events the accept filter rejects (wrong prefix, not ``.xlsx``,
    null name) and one redelivery of an accepted event of the same or a
    previous chunk, in seeded order. Equal chunks keep the freshness
    quantiles on the same micro-batch from seed to seed.
    """
    rng = random.Random(seed)
    bucket, landing = os.path.join(root, "bucket"), os.path.join(root, "landing")
    os.makedirs(os.path.join(bucket, "minha-pasta"))
    os.makedirs(os.path.join(bucket, "outra-pasta"))
    os.makedirs(landing)
    bl = Backlog(bucket, landing, rows, books_per_batch + 5)
    next_id = seed % 1000 * 10_000_000

    def book(name: str) -> set[int]:
        nonlocal next_id
        ids = range(next_id, next_id + rows)
        next_id += rows
        write_minimal_xlsx(
            os.path.join(bucket, name),
            COLUMNS,
            [[i, rng.randrange(100_000), rng.choice(_EVENT_TYPES),
              round(rng.uniform(0, 1000), 2)] for i in ids],
        )
        return set(ids)

    delivered: list[tuple[str | None, float]] = []
    seen: list[tuple[str, float]] = []
    t = _T0
    for c in range(batches):
        chunk = []
        for i in range(books_per_batch):
            name = f"minha-pasta/wb{c:03d}_{i:03d}.xlsx"
            bl.good[name] = book(name)
            bl.workbooks.append(os.path.join(bucket, name))
            chunk.append(name)
        name = f"minha-pasta/corrupt{c:03d}.xlsx"
        with open(os.path.join(bucket, name), "wb") as f:
            f.write(rng.randbytes(512))
        bl.corrupt.add(name)
        chunk.append(name)
        # right suffix but wrong prefix (a real workbook that must not
        # land), not .xlsx, and a null name
        book(f"outra-pasta/wb{c:03d}.xlsx")
        chunk += [f"outra-pasta/wb{c:03d}.xlsx", f"minha-pasta/export{c:03d}.csv", None]
        events = []
        for name in chunk:
            t += 1
            events.append((name, t))
        seen += [e for e in events if e[0] in bl.good]
        dup = rng.choice(seen)
        bl.duplicated.add(dup[0])
        events.append(dup)
        rng.shuffle(events)
        delivered += events
    for pos, (name, t) in enumerate(delivered):
        path = os.path.join(landing, f"ev{pos:05d}.json")
        stamp = datetime.fromtimestamp(t, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        with open(path, "w") as f:
            json.dump({"bucket": "bench", "name": name, "size": "0", "ts": stamp}, f)
        # the file source admits files in modification-time order
        os.utime(path, (_T0 + pos, _T0 + pos))
    bl.events = len(delivered)
    return bl


def epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _read(root: str, columns: list[str]):
    return pq.ParquetDataset(root).read(columns=columns) if os.path.isdir(root) else None


def drain(spark, bl: Backlog, warehouse: str, timeout: float = 60.0) -> dict:
    """Drain the backlog once from a fresh checkpoint into a fresh sink
    root; returns wall time, streaming progress and the sink calls."""
    shutil.rmtree(os.path.join(bl.bucket, "_etl_checkpoint"), ignore_errors=True)
    shutil.rmtree(warehouse, ignore_errors=True)
    sink = TimedSink(BigQuerySink(warehouse_dir=warehouse))
    t0 = time.time()
    q = run_xlsx_etl_pipeline(
        spark, bl.landing, bl.bucket, sink, TABLE, COLUMNS, DDL,
        max_files_per_trigger=bl.files_per_batch,
    )
    finished = q.awaitTermination(timeout)
    t1 = time.time()
    if not finished:
        q.stop()
        raise TimeoutError(f"drain did not finish within {timeout} s")
    if q.exception() is not None:
        raise RuntimeError(f"drain failed: {q.exception()}")
    _attribute_files(sink.calls, warehouse)
    return {"start": t0, "end": t1, "progress": q.recentProgress, "calls": sink.calls,
            "warehouse": warehouse}


def _attribute_files(calls: list[dict], warehouse: str) -> None:
    """Give every write call the part files it added: a file belongs to the
    first write of its table that ended at or after the file's mtime (the
    writes of one drain do not overlap)."""
    writes = [c for c in calls if c["op"] == "write"]
    for c in writes:
        c["files"] = []
    for table in {c["table"] for c in writes}:
        mine = [c for c in writes if c["table"] == table]
        for d, _, fs in os.walk(os.path.join(warehouse, *table.split("."))):
            for f in fs:
                if f.endswith(".parquet"):
                    path = os.path.join(d, f)
                    mtime = os.path.getmtime(path)
                    owner = next((c for c in mine if c["end"] >= mtime), None)
                    if owner is not None:
                        owner["files"].append(path)


def check(bl: Backlog, d: dict) -> tuple[list[str], dict]:
    """Verify one drain; returns (problems, measurements)."""
    base = os.path.join(d["warehouse"], *TABLE.split("."))
    problems = []
    landed = _read(base, ["event_id", "_event_name"])
    dead = _read(base + "_rejected", ["_event_name", "_status"])
    got_ids = landed.column("event_id").to_pylist() if landed is not None else []
    names = landed.column("_event_name").to_pylist() if landed is not None else []
    want = set().union(*bl.good.values())
    if len(got_ids) != len(set(got_ids)):
        problems.append(f"{len(got_ids) - len(set(got_ids))} event_id rows landed twice")
    if set(got_ids) != want:
        problems.append(f"sink event_ids: {len(set(got_ids) - want)} unexpected, "
                        f"{len(want - set(got_ids))} missing")
    dead_rows = list(zip(dead.column("_event_name").to_pylist(),
                         dead.column("_status").to_pylist())) if dead is not None else []
    if sorted(n for n, _ in dead_rows) != sorted(bl.corrupt):
        problems.append(f"dead-letter rows {sorted(dead_rows)} != one per corrupt "
                        f"workbook {sorted(bl.corrupt)}")
    per_event: dict[str, int] = {}
    for n in names:
        per_event[n] = per_event.get(n, 0) + 1
    dropped = sum(per_event.get(n) == bl.rows_per_book for n in bl.duplicated)

    # freshness: each accepted event's rows become visible at the end of
    # the micro-batch whose sink write holds them
    batches = [
        (epoch(p["timestamp"]), epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3)
        for p in d["progress"]
    ]
    freshness = []
    main_writes = [c for c in d["calls"] if c["op"] == "write" and c["table"] == TABLE]
    for c in main_writes:
        end = next((e for s, e in batches if s - 0.005 <= c["end"] <= e + 0.005), c["end"])
        if c["files"]:
            events = set(pq.ParquetDataset(c["files"]).read(["_event_name"])
                         .column("_event_name").to_pylist())
            freshness += [end - d["start"]] * len(events)
    if len(freshness) != len(bl.good):
        problems.append(f"freshness samples {len(freshness)} != accepted events {len(bl.good)}")
    written = [f for c in d["calls"] if c["op"] == "write" for f in c["files"]]
    main_bytes = sum(os.path.getsize(f) for c in main_writes for f in c["files"])
    dur = lambda key: [p["durationMs"].get(key, 0) / 1e3 for p in d["progress"]]  # noqa: E731
    wall = d["end"] - d["start"]
    return problems, {
        "wall": wall,
        "rows": len(got_ids),
        "rows_per_s": len(got_ids) / wall,
        "freshness": freshness,
        "batches": len(d["progress"]),
        "trigger": dur("triggerExecution"),
        "latest_offset": sum(dur("latestOffset")),
        "add_batch": sum(dur("addBatch")),
        "wal_commit": sum(dur("walCommit")),
        "accept_ratio": len(per_event) / bl.events,
        "dedup_ratio": dropped / len(bl.duplicated) if bl.duplicated else 1.0,
        "write_s": sum(c["end"] - c["start"] for c in d["calls"] if c["op"] == "write"),
        "write_calls": sum(c["op"] == "write" for c in d["calls"]),
        "read_s": sum(c["end"] - c["start"] for c in d["calls"] if c["op"] == "read"),
        "files_written": len(written),
        "bytes_per_row": main_bytes / max(1, len(got_ids)),
    }


def parse_seconds_per_mb(bl: Backlog, limit: int = 32) -> float:
    """Direct ``parse_xlsx_bytes`` calls on generated workbooks."""
    from etl_gcp_function_tmabrasil_spark.sources.xlsx import parse_xlsx_bytes

    blobs = []
    for p in bl.workbooks[:limit]:
        with open(p, "rb") as f:
            blobs.append(f.read())
    t0 = time.perf_counter()
    for b in blobs:
        parse_xlsx_bytes(b)
    return (time.perf_counter() - t0) / (sum(map(len, blobs)) / 2**20)
