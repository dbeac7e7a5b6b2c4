"""Seeded input generator for the benchmark, run as its own single-threaded
process so it never competes with the engine for the interpreter.

Two modes:

``tables``
    Writes the ten warehouse / corpus tables (``region`` ... ``embeddings``)
    as single parquet files with the schemas and row counts of the sf0.1
    test tier, values drawn from ``--seed``, and under ``ingest/`` the
    corpus-ingest stream cut from the ``documents`` table: fixed-size
    batches, one file each, and a held-out benchmark set.

``clickstream``
    The open-loop event source for the clickstream workload. It writes the
    outage backlog, prints one JSON line, then blocks on stdin. On ``go``
    it writes one file per ``--interval-ms`` for ``--seconds`` seconds at
    ``--rate`` events/s, each event stamped with its scheduled creation
    time, injects one late event for a reserved user every ``LATE_EVERY``
    on-time events, writes the far-future flush event and prints its
    report as the last JSON line.

Every file is written under a hidden name and renamed into place, so the
engine's file source never lists a partial file. Run
``python3 perfbench/gen.py --help`` for the arguments.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 event-type mix: five types, equally likely
EVENT_TYPES = np.array(["error", "view", "purchase", "signup", "click"])
N_USERS = 5_000
#: concurrent sessions; at rate r a session's events are LANES / r s apart
LANES = 600
MAX_SLOTS = 400_000
#: on-time events per injected late event
LATE_EVERY = 200
#: reserved user ids: one per late event from LATE_USER_BASE up; the flush
#: event's user is FLUSH_USER. Real users are 0 .. N_USERS - 1.
LATE_USER_BASE = 1_000_000
FLUSH_USER = 999_999
#: how far behind the first backlog event a late event is stamped
LATE_LAG_MS = 60_000
#: flush event time past the last live event — closes every real session
FLUSH_AHEAD_MS = 86_400_000

CLICK_SCHEMA = pa.schema(
    [
        ("ip", pa.string()),
        ("eventtimestamp", pa.int64()),
        ("devicetype", pa.string()),
        ("event_type", pa.string()),
        ("product_type", pa.string()),
        ("userid", pa.int32()),
        ("globalseq", pa.int64()),
        ("prevglobalseq", pa.int64()),
    ]
)


def single_threaded() -> None:
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)


def write_atomic(table: pa.Table, path: str) -> None:
    """Write under a hidden name (the file source skips ``.``-prefixed
    files), then rename into place."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    pq.write_table(table, tmp, use_dictionary=False, compression="snappy")
    os.rename(tmp, path)


# --- clickstream -----------------------------------------------------------


def session_events(seed: int, n: int) -> dict[str, np.ndarray]:
    """User and event type of the first ``n`` event slots, in time order.

    Slot j is dealt to lane ``j % LANES``; each lane cuts its slots into
    sessions of 1-6 events, so ``LANES`` sessions run concurrently and a
    session's events are ``LANES`` slots apart. Sessions take users from a
    seeded permutation in turn, so a user comes back only after
    ``N_USERS`` other sessions. Everything is drawn for ``MAX_SLOTS`` slots
    and cut, so the first ``n`` slots do not depend on ``n``: the backlog
    and the live phase are one sequence."""
    if n > MAX_SLOTS:
        raise ValueError(f"{n} events exceed MAX_SLOTS={MAX_SLOTS}")
    rng = np.random.default_rng(seed)
    perm = rng.permutation(N_USERS).astype(np.int32)
    per_lane = -(-MAX_SLOTS // LANES)
    lens = rng.integers(1, 7, size=(LANES, per_lane))
    types = EVENT_TYPES[rng.integers(0, EVENT_TYPES.size, size=MAX_SLOTS)[:n]]
    sess = np.stack(
        [np.repeat(np.arange(per_lane), row)[:per_lane] for row in lens]
    )
    j = np.arange(n)
    lane = j % LANES
    gid = sess[lane, j // LANES] * LANES + lane
    return {"userid": perm[gid % N_USERS], "event_type": types}


def click_table(
    ts: np.ndarray, users: np.ndarray, types: np.ndarray, seq0: int
) -> pa.Table:
    """ClickEvent rows in the source schema (schema.CLICK_EVENT)."""
    n = ts.size
    seq = np.arange(seq0, seq0 + n, dtype=np.int64)
    event_type = np.where(types == "purchase", "order_checkout", types)
    product = np.where((types == "view") | (types == "click"), types, "N/A")
    return pa.Table.from_arrays(
        [
            pa.array(["0.0.0.0"] * n, pa.string()),
            pa.array(ts.astype(np.int64)),
            pa.array(["desktop"] * n, pa.string()),
            pa.array(event_type, pa.string()),
            pa.array(product, pa.string()),
            pa.array(users.astype(np.int32)),
            pa.array(seq),
            pa.array(seq - 1),
        ],
        schema=CLICK_SCHEMA,
    )


def slot_times(base_ms: int, first_slot: int, n: int, rate: float) -> np.ndarray:
    """Scheduled creation time (epoch ms) of slots first_slot .. +n."""
    slots = np.arange(first_slot, first_slot + n, dtype=np.float64)
    return base_ms + np.floor(slots * 1000.0 / rate).astype(np.int64)


def split_by_time(ts: np.ndarray, n_files: int) -> list[tuple[int, int]]:
    """Cut a time-sorted array into ~equal [lo, hi) index ranges whose cut
    points fall between distinct timestamps, so each file's times are
    strictly above the previous file's."""
    cuts = [0]
    for k in range(1, n_files):
        i = int(np.searchsorted(ts, ts[(k * ts.size) // n_files], side="left"))
        if i > cuts[-1]:
            cuts.append(i)
    cuts.append(ts.size)
    return list(zip(cuts[:-1], cuts[1:]))


def write_backlog(
    out: str, seed: int, n: int, rate: float, base_ms: int, n_files: int
) -> dict:
    ev = session_events(seed, n)
    ts = slot_times(base_ms, 0, n, rate)
    for k, (lo, hi) in enumerate(split_by_time(ts, n_files)):
        write_atomic(
            click_table(ts[lo:hi], ev["userid"][lo:hi], ev["event_type"][lo:hi], lo),
            os.path.join(out, f"backlog-{k:04d}.parquet"),
        )
    return {"events": n, "first_ts": int(ts[0]), "last_ts": int(ts[-1])}


def live_plan(
    seed: int, backlog: int, rate: float, seconds: float, interval_ms: int
) -> dict:
    """The seed-determined live schedule, independent of wall time: the
    on-time events (slots after the backlog's) and which file each falls
    in, plus the late events per file."""
    n_files = int(round(seconds * 1000 / interval_ms))
    n = int(round(rate * n_files * interval_ms / 1000))
    ev = session_events(seed, backlog + n)
    # offsets (ms) from live start; file k holds offsets in
    # ((k-1)*interval, k*interval], so times rise strictly across files
    off = np.ceil(np.arange(1, n + 1, dtype=np.float64) * 1000.0 / rate).astype(
        np.int64
    )
    file_of = (off - 1) // interval_ms
    n_late = n // LATE_EVERY
    late_file = (np.arange(n_late, dtype=np.int64) * n_files) // max(n_late, 1)
    return {
        "n_files": n_files,
        "off": off,
        "file_of": file_of,
        "userid": ev["userid"][backlog:],
        "event_type": ev["event_type"][backlog:],
        "late_file": late_file,
    }


def live_file(
    plan: dict, k: int, start_ms: int, backlog: int, late_ts0: int
) -> pa.Table:
    """File k (0-based) of the live phase, on-time events then late ones."""
    sel = np.flatnonzero(plan["file_of"] == k)
    lo = int(sel[0]) if sel.size else 0
    on_time = click_table(
        start_ms + plan["off"][sel],
        plan["userid"][sel],
        plan["event_type"][sel],
        backlog + lo,
    )
    late_idx = np.flatnonzero(plan["late_file"] == k)
    if late_idx.size == 0:
        return on_time
    late = click_table(
        late_ts0 - late_idx,
        (LATE_USER_BASE + late_idx).astype(np.int32),
        np.array(["view"] * late_idx.size),
        # late events take sequence numbers past every on-time event
        10**12 + late_idx[0],
    )
    return pa.concat_tables([on_time, late])


def run_clickstream(args: argparse.Namespace) -> None:
    single_threaded()
    os.makedirs(args.dir, exist_ok=True)
    base_ms = int(time.time() * 1000) - int(args.backlog * 1000 / args.rate)
    info = write_backlog(
        args.dir, args.seed, args.backlog, args.rate, base_ms, args.backlog_files
    )
    plan = live_plan(
        args.seed, args.backlog, args.rate, args.seconds, args.interval_ms
    )
    late_ts0 = info["first_ts"] - LATE_LAG_MS
    print(json.dumps({"phase": "backlog", **info}), flush=True)
    if sys.stdin.readline().strip() != "go":
        return
    interval_s = args.interval_ms / 1000.0
    start = time.time()
    start_ms = int(start * 1000)
    lateness_max = 0.0
    written = late_written = 0
    for k in range(plan["n_files"]):
        due = start + (k + 1) * interval_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        table = live_file(plan, k, start_ms, args.backlog, late_ts0)
        write_atomic(table, os.path.join(args.dir, f"live-{k:05d}.parquet"))
        lateness_max = max(lateness_max, time.time() - due)
        n_late = int(np.count_nonzero(plan["late_file"] == k))
        late_written += n_late
        written += table.num_rows - n_late
    last_ts = start_ms + int(plan["off"][-1])
    flush = click_table(
        np.array([last_ts + FLUSH_AHEAD_MS]),
        np.array([FLUSH_USER]),
        np.array(["signup"]),
        10**12 - 1,
    )
    write_atomic(flush, os.path.join(args.dir, "live-flush.parquet"))
    print(
        json.dumps(
            {
                "phase": "live",
                "start_ms": start_ms,
                "end_ms": int(time.time() * 1000),
                "last_ts": last_ts,
                "files": plan["n_files"],
                "events": written,
                "late_events": late_written,
                "lateness_ms_max": lateness_max * 1000.0,
                "interval_ms": args.interval_ms,
                "valid": lateness_max * 1000.0 <= args.interval_ms,
            }
        ),
        flush=True,
    )


# --- warehouse / corpus tables --------------------------------------------

DOC_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
DOC_LANGS = np.array(["en", "de", "fr", "es", "zh"])
DOC_LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
PART_ADJ = np.array("large hot blue old cold red green small".split())
PART_NOUN = np.array("ring bolt plate gear nut pipe valve screw".split())


def _strings(fmt: str, ids: np.ndarray) -> pa.Array:
    return pa.array([fmt % i for i in ids.tolist()], pa.string())


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def documents(seed: int, n: int) -> pa.Table:
    """Bag-of-words documents over the sf0.1 31-word vocabulary; ~5% are a
    copy of an earlier document with `` dup`` appended (near duplicates)."""
    rng = np.random.default_rng(seed + 7)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, DOC_WORDS.size, lens.sum())
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(DOC_WORDS[words], cuts)]
    dup = np.flatnonzero(rng.random(n) < 0.05)
    dup = dup[dup > 0]
    src = (rng.random(dup.size) * dup).astype(np.int64)
    for d, s in zip(dup.tolist(), src.tolist()):
        texts[d] = texts[s] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(DOC_LANGS, n, p=DOC_LANG_P), pa.string()),
            "source": _strings("src%d", ids % 20),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": _strings("NATION_%d", nk),
            "n_regionkey": pa.array((nk % 5).astype(np.int32)),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _strings("Customer#%09d", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(
                rng.choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                    n_cust,
                ),
                pa.string(),
            ),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _strings("Supplier#%09d", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(
        np.char.add(rng.choice(PART_ADJ, n_part), " "), rng.choice(PART_NOUN, n_part)
    )
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(names, pa.string()),
            "p_brand": _strings("Brand#%d", rng.integers(1, 26, n_part)),
            "p_type": pa.array(
                rng.choice(
                    ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
                    n_part,
                ),
                pa.string(),
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ),
                pa.string(),
            ),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_line), pa.string()),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + ev_ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, int(15_000 * sf), n_ev),
            "event_type": pa.array(
                rng.choice(["error", "view", "purchase", "signup", "click"], n_ev),
                pa.string(),
            ),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": _strings('{"k": %d}', rng.integers(0, 100, n_ev)),
        }
    )
    out["documents"] = documents(seed, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
        }
    )
    return out


def write_ingest(docs: pa.Table, out: str, batches: int, batch_size: int,
                 test_docs: int, seed: int) -> int:
    """The ingest stream: the first ``batches`` × ``batch_size`` documents,
    one file per batch under ``out/src``, and ``out/test.parquet``: a
    held-out benchmark of ``test_docs`` documents whose texts repeat seeded
    stream documents. Returns the stream's text bytes."""
    src = os.path.join(out, "src")
    os.makedirs(src, exist_ok=True)
    stream = docs.slice(0, batches * batch_size)
    for k in range(batches):
        write_atomic(stream.slice(k * batch_size, batch_size),
                     os.path.join(src, f"docs-{k:04d}.parquet"))
    rng = np.random.default_rng(seed + 11)
    pick = np.sort(rng.choice(stream.num_rows, test_docs, replace=False))
    test = stream.take(pa.array(pick)).set_column(
        0, "doc_id", pa.array(10**9 + np.arange(test_docs, dtype=np.int64))
    )
    write_atomic(test, os.path.join(out, "test.parquet"))
    return sum(len(t.encode()) for t in stream.column("text").to_pylist())


def run_tables(args: argparse.Namespace) -> None:
    single_threaded()
    os.makedirs(args.dir, exist_ok=True)
    out = tables(args.seed, args.sf)
    for name, table in out.items():
        write_atomic(table, os.path.join(args.dir, f"{name}.parquet"))
    text_bytes = write_ingest(out["documents"], os.path.join(args.dir, "ingest"),
                              args.ingest_batches, args.ingest_batch_size,
                              args.test_docs, args.seed)
    print(json.dumps({"phase": "tables", "ingest_text_bytes": text_bytes}),
          flush=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--dir", required=True)
    t.add_argument("--sf", type=float, default=0.1)
    t.add_argument("--ingest-batches", type=int, default=3)
    t.add_argument("--ingest-batch-size", type=int, default=100)
    t.add_argument("--test-docs", type=int, default=20)
    c = sub.add_parser("clickstream")
    c.add_argument("--seed", type=int, required=True)
    c.add_argument("--dir", required=True)
    c.add_argument("--backlog", type=int, required=True)
    c.add_argument("--backlog-files", type=int, default=8)
    c.add_argument("--rate", type=float, required=True)
    c.add_argument("--interval-ms", type=int, required=True)
    c.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)
    {"tables": run_tables, "clickstream": run_clickstream}[args.mode](args)


if __name__ == "__main__":
    main()
