"""Workload ``clickstream``: the paper's job, outage catch-up then live.

Topology as ``streaming.job.run_single_pass`` builds it:
``stream_clickevents`` -> ``sessionize`` (1 s gap, zero-slack watermark)
-> ``session_fanout``, whose three writers frame records with
``kafka_sink_frame`` and hand them to :class:`Broker`, an in-process
stand-in that stamps each record's arrival time.

Phase 1 (catch-up): the generator stages ``BACKLOG`` events of an outage
before the query starts. During set-up the job catches up on the backlog
once on its own checkpoint and stops (the warm-up), so a timed restart
pays per-event operator and state cost, not the JVM's and the plan's
first compilation. Catch-up ends with the batch that evicts the
backlog's sessions; the timed restart then goes on into the live phase. Phase 2 (live): the generator, an
open loop in its own process, writes one file per ``INTERVAL_MS`` at
``RATE`` events/s for ``--seconds`` seconds, with one late event per 200
for reserved users, then a far-future flush event that closes every real
session.

Correctness: the buy sessions and the additively merged Q2/Q3 partials
must equal ``oracles.q1_buy_sessions`` / ``q2_session_stats`` /
``q3_department_counts`` run in DuckDB over the on-time events the
generator wrote, and the state operator's late-row count must equal the
injected late count. Each missing or extra row is one failed operation.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from collections import Counter, defaultdict

import gen
import obs
import stats

BACKLOG = 50_000
BACKLOG_FILES = 16
#: live offered rate: a fifth or less of the warm catch-up throughput
#: measured on a 4-core host (README.md), so the live source backlog stays
#: near one batch's worth of traffic instead of growing
RATE = 2_000.0
INTERVAL_MS = 250
GAP, WINDOW = "1 second", "10 seconds"
GAP_MS, WINDOW_MS = 1_000, 10_000
DRAIN_TIMEOUT_S = 120.0
TOPICS = ("buy", "q2", "q3")


class Broker:
    """Stand-in for the Kafka cluster: keeps every record a writer hands
    it, stamped with its arrival time (epoch ms)."""

    def __init__(self):
        self.records: dict[str, list[tuple[float, dict, int]]] = defaultdict(list)

    def send(self, topic: str, rows) -> None:
        now = time.time() * 1000.0
        for r in rows:
            event_ms = int(bytes(r["headers"][0]["value"]).decode())
            self.records[topic].append((now, json.loads(r["value"]), event_ms))


def start_query(spark, src: str, ckpt: str, broker: Broker, timings: dict):
    """The single-pass job over ``src`` with broker writers. ``timings``
    collects (epoch -> {topic: (start, end)}) around each writer call."""
    from flink_clickstream_processor_msk_spark.operators.sessionize import sessionize
    from flink_clickstream_processor_msk_spark.sources.clickevents import (
        stream_clickevents,
    )
    from flink_clickstream_processor_msk_spark.streaming.pipeline import (
        session_fanout,
    )
    from flink_clickstream_processor_msk_spark.streaming.sinks import (
        kafka_sink_frame,
    )

    def writer(topic: str, key_cols=None):
        def write(df, epoch_id: int) -> None:
            t0 = time.time()
            rows = kafka_sink_frame(df, key_cols, "windowEndTime").collect()
            broker.send(topic, rows)
            timings.setdefault(epoch_id, {})[topic] = (t0, time.time())

        return write

    sessions = sessionize(stream_clickevents(spark, src, watermark="0 seconds"), gap=GAP)
    fan_out = session_fanout(
        writer("buy"), writer("q2"), writer("q3", key_cols=["departmentName"]),
        window=WINDOW,
    )
    return (
        sessions.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def catch_up(spark, src: str, ckpt: str, broker: Broker, timings: dict):
    """Start the job on a fresh checkpoint and wait until it has consumed
    the backlog and evicted its sessions. Returns the running query, its
    progress, its start time and the end of its last batch (epoch s)."""
    start = time.time()
    query = start_query(spark, src, ckpt, broker, timings)
    prog = wait_for(query, settled(BACKLOG), DRAIN_TIMEOUT_S)
    last = prog[-1]
    end = obs.progress_start(last) + last["durationMs"]["triggerExecution"] / 1000.0
    return query, prog, start, end


def consumed(progress: list[dict]) -> int:
    return sum(p["numInputRows"] for p in progress)


def wait_for(query, done, timeout_s: float) -> list[dict]:
    """Poll the query's progress until ``done(progress)`` holds."""
    deadline = time.time() + timeout_s
    while True:
        prog = obs.progress_records(query)
        if done(prog):
            return prog
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"stream did not settle in {timeout_s} s")
        time.sleep(0.05)


def settled(total: int):
    """All ``total`` rows consumed and a later no-data batch has run (the
    one that evicts the sessions the watermark just closed)."""

    def done(prog: list[dict]) -> bool:
        if consumed(prog) < total:
            return False
        last_data = max(i for i, p in enumerate(prog) if p["numInputRows"] > 0)
        return len(prog) > last_data + 1

    return done


def oracle_rows(src: str) -> dict[str, Counter]:
    """Expected buy / Q2 / Q3 rows over the on-time events in ``src``."""
    import duckdb

    from flink_clickstream_processor_msk_spark import oracles

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(
        f"""CREATE VIEW events AS SELECT globalseq AS event_id,
        make_timestamp(eventtimestamp * 1000) AS ts, userid AS user_id,
        CASE WHEN event_type = 'order_checkout' THEN 'purchase'
             ELSE event_type END AS event_type
        FROM read_parquet('{src}/*.parquet')
        WHERE userid < {gen.FLUSH_USER}"""
    )
    out = {}
    for topic, sql in (
        ("buy", oracles.q1_buy_sessions(GAP_MS)),
        ("q2", oracles.q2_session_stats(GAP_MS, WINDOW_MS)),
        ("q3", oracles.q3_department_counts(GAP_MS, WINDOW_MS)),
    ):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[topic] = Counter(canon(topic, dict(zip(cols, r))) for r in cur.fetchall())
    con.close()
    return out


def canon(topic: str, row: dict) -> tuple:
    if topic == "buy":
        dept = row["deptList"]
        dept = ",".join(dept) if isinstance(dept, list) else dept
        return (row["userId"], row["eventCount"], row["orderCheckoutEventCount"],
                dept, row["windowBeginTime"], row["windowEndTime"])
    if topic == "q2":
        return (row["userSessionCount"], row["userSessionCountWithOrderCheckout"],
                float(row["percentSessionswithBuy"]),
                row["windowBeginTime"], row["windowEndTime"])
    return (row["departmentName"], row["departmentCount"],
            row["windowBeginTime"], row["windowEndTime"])


def merged(broker: Broker) -> dict[str, Counter]:
    """The sink-side view: buy records as delivered, Q2/Q3 partials merged
    additively per window (streaming.pipeline's merge rule)."""
    q2: dict = defaultdict(lambda: [0, 0])
    for _, v, _ in broker.records["q2"]:
        acc = q2[(v["windowBeginTime"], v["windowEndTime"])]
        acc[0] += v["userSessionCount"]
        acc[1] += v["userSessionCountWithOrderCheckout"]
    q3: dict = defaultdict(int)
    for _, v, _ in broker.records["q3"]:
        q3[(v["departmentName"], v["windowBeginTime"], v["windowEndTime"])] += (
            v["departmentCount"]
        )
    return {
        "buy": Counter(canon("buy", v) for _, v, _ in broker.records["buy"]),
        "q2": Counter((n, b, float(b * 100 // n), wb, we)
                      for (wb, we), (n, b) in q2.items()),
        "q3": Counter((d, c, wb, we) for (d, wb, we), c in q3.items()),
    }


def phase_layers(prefix: str, prog: list[dict], timings: dict, broker: Broker,
                 jobs: list[dict] | None, lo: float, hi: float,
                 generated) -> dict:
    """Per-layer metrics of the batches that started in [lo, hi)."""
    batches = [p for p in prog if lo <= obs.progress_start(p) < hi]
    if not batches:
        return {}
    out = {}
    dur = lambda k: [p["durationMs"].get(k, 0) for p in batches]  # noqa: E731
    p50 = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
    cum = consumed([p for p in prog if obs.progress_start(p) < lo])
    backlog = []
    for p in batches:
        cum += p["numInputRows"]
        end = obs.progress_start(p) + p["durationMs"]["triggerExecution"] / 1000.0
        backlog.append(generated(end) - cum)
    out["source.latest_offset_ms_p50"] = p50(dur("latestOffset"))
    out["source.get_batch_ms_p50"] = p50(dur("getBatch"))
    out["source.backlog_events_max"] = max(backlog)
    trig = dur("triggerExecution")
    out["microbatch.count"] = len(batches)
    out["microbatch.trigger_ms_p50"] = p50(trig)
    out["microbatch.planning_ms_p50"] = p50(dur("queryPlanning"))
    out["microbatch.commit_ms_p50"] = p50(
        [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
    )
    span = (obs.progress_start(batches[-1]) + trig[-1] / 1000.0
            - obs.progress_start(batches[0]))
    out["microbatch.busy_share"] = sum(trig) / 1000.0 / span if span > 0 else 0.0
    ops = [p["stateOperators"][0] for p in batches if p["stateOperators"]]
    out["state.rows_max"] = max(o["numRowsTotal"] for o in ops)
    out["state.memory_bytes_max"] = max(o["memoryUsedBytes"] for o in ops)
    out["state.commit_ms_p50"] = p50([o["commitTimeMs"] for o in ops])
    out["state.late_rows_dropped"] = sum(o["numRowsDroppedByWatermark"] for o in ops)
    ids = {p["batchId"] for p in batches}
    fan = [timings[b] for b in sorted(ids) if b in timings]
    for topic in TOPICS:
        out[f"fanout.{topic}_ms_p50"] = p50(
            [(t[topic][1] - t[topic][0]) * 1000.0 for t in fan if topic in t]
        )
    add = {p["batchId"]: p["durationMs"].get("addBatch", 0) for p in batches}
    out["fanout.overhead_ms_p50"] = p50([
        add[b] - sum((t[1] - t[0]) * 1000.0 for t in timings[b].values())
        for b in sorted(ids) if b in timings
    ])
    for topic, key in (("q2", lambda v: (v["windowBeginTime"],)),
                       ("q3", lambda v: (v["departmentName"], v["windowBeginTime"]))):
        recs = [v for a, v, _ in broker.records[topic] if lo * 1000 <= a < hi * 1000]
        windows = {key(v) for v in recs}
        out[f"sink.{topic}_partials_per_window"] = (
            len(recs) / len(windows) if windows else 0.0
        )
    if jobs is not None:
        events = sum(p["numInputRows"] for p in batches)
        tot = obs.job_totals([
            j for p in batches
            for j in obs.jobs_between(
                jobs, obs.progress_start(p),
                obs.progress_start(p) + p["durationMs"]["triggerExecution"] / 1000.0)
        ])
        out["exec.jobs_per_batch"] = tot["jobs"] / len(batches)
        out["exec.tasks_per_batch"] = tot["tasks"] / len(batches)
        out["exec.shuffle_bytes_per_event"] = (
            tot["shuffle_bytes"] / events if events else 0.0
        )
    return {f"{prefix}.{k}": v for k, v in out.items()}


def trace_batches(tracer: obs.Tracer, prog: list[dict], timings: dict) -> None:
    """One trace per micro-batch: the trigger span with Spark's phase
    durations laid end to end in execution order (their bounds are
    Spark's, the order is MicroBatchExecution's), and the measured writer
    spans under addBatch."""
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
             "addBatch", "commitOffsets")
    for p in prog:
        start = obs.progress_start(p)
        d = p["durationMs"]
        trace = f"mb{p['batchId']}"
        root = tracer.add("microbatch", start, start + d["triggerExecution"] / 1000.0,
                          trace, batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for phase in order:
            ms = d.get(phase, 0)
            sid = tracer.add(phase, t, t + ms / 1000.0, trace, parent=root)
            if phase == "addBatch":
                for topic, (a, b) in timings.get(p["batchId"], {}).items():
                    tracer.add(f"fanout.{topic}", a, b, trace, parent=sid)
            t += ms / 1000.0


def run(ctx) -> dict:
    src = ctx.path("src")
    gen_proc = subprocess.Popen(
        [sys.executable, ctx.gen_py, "clickstream", "--seed", str(ctx.seed),
         "--dir", src, "--backlog", str(BACKLOG), "--backlog-files",
         str(BACKLOG_FILES), "--rate", str(RATE), "--interval-ms",
         str(INTERVAL_MS), "--seconds", str(ctx.seconds)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=ctx.gen_env(),
    )
    spark = sampler = query = None
    try:
        # the generator stages the backlog while the JVM starts
        t0 = time.perf_counter()
        spark = ctx.session()
        sampler = obs.RssSampler(spark.sparkContext._jvm.ProcessHandle.current().pid())
        phases = {"session_s": time.perf_counter() - t0}
        backlog = json.loads(gen_proc.stdout.readline())
        phases["backlog_wait_s"] = time.perf_counter() - t0 - phases["session_s"]
        # warm-up: one catch-up, stopped, so the JVM, the plan's code
        # generation and the Python side are warm for the timed restarts
        catch_up(spark, src, ctx.path("ckpt-warm"), Broker(), {})[0].stop()
        setup_s = time.perf_counter() - t0
        phases["warm_up_s"] = setup_s - sum(phases.values())
        heap = obs.HeapProbe(spark)
        heap.sample()

        # the timed restart, which goes on into the live phase
        broker, timings = Broker(), {}
        query, prog, q_start, catchup_end = catch_up(
            spark, src, ctx.path("ckpt"), broker, timings)
        heap.sample()
        gen_proc.stdin.write("go\n")
        gen_proc.stdin.flush()
        live = json.loads(gen_proc.stdout.readline())
        gen_proc.wait(timeout=30)
        total = BACKLOG + live["events"] + live["late_events"] + 1
        prog = wait_for(query, settled(total), DRAIN_TIMEOUT_S)
        heap.sample()
        query.stop()
        query = None
        peak_rss = sampler.stop()
        jobs = obs.StatusStore(spark).jobs() if ctx.trace else None
    finally:
        if query is not None:
            query.stop()
        if sampler is not None:
            sampler.stop()
        if gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        if spark is not None:
            spark.stop()

    # --- correctness ---------------------------------------------------
    want, got = oracle_rows(src), merged(broker)
    attempted = failed = 0
    mismatch = {}
    for topic in TOPICS:
        missing = sum((want[topic] - got[topic]).values())
        extra = sum((got[topic] - want[topic]).values())
        mismatch[topic] = {"expected": sum(want[topic].values()),
                           "missing": missing, "extra": extra}
        attempted += sum(want[topic].values())
        failed += min(missing + extra, sum(want[topic].values()))
    dropped = sum(o["numRowsDroppedByWatermark"]
                  for p in prog for o in p["stateOperators"])
    attempted += 1
    failed += int(dropped != live["late_events"])

    # --- end to end ----------------------------------------------------
    catchup_s = catchup_end - q_start
    live_start_s, live_end_s = live["start_ms"] / 1000.0, live["end_ms"] / 1000.0
    # live sessions: ended after the live phase began and no later than
    # its last event, so live traffic (not the flush) closed them
    lat = stats.sink_latencies_ms(
        ((a, e) for a, _, e in broker.records["buy"]),
        since_ms=live["start_ms"] + GAP_MS, until_ms=live["last_ts"],
    )
    tail_p = stats.tail_percentile(len(lat))
    live_trigger_ms = [p["durationMs"]["triggerExecution"] for p in prog
                       if live_start_s <= obs.progress_start(p) < live_end_s]
    named = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "peak_rss_mb": {"value": peak_rss, "unit": "MB", "n": 1},
        "live_heap_mb": {"value": heap.peak_mb, "unit": "MB", "n": len(heap.samples)},
        "catchup_events_per_s": {"value": BACKLOG / catchup_s, "unit": "events/s",
                                 "n": BACKLOG},
        "latency_p50_ms": {"value": stats.percentile(lat, 50), "unit": "ms",
                           "n": len(lat)},
        "live_trigger_p50_s": {"value": stats.median(live_trigger_ms) / 1000.0,
                               "unit": "s", "n": len(live_trigger_ms)},
    }
    if tail_p is not None:
        named[f"latency_p{tail_p}_ms"] = {
            "value": stats.percentile(lat, tail_p), "unit": "ms", "n": len(lat)}
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "live_heap_mb": {"value": heap.peak_mb, "unit": "MB"},
        "work_per_s": {"value": BACKLOG / catchup_s, "unit": "1/s"},
        "p50_ms": {"value": named["latency_p50_ms"]["value"], "unit": "ms"},
        "batch_s": {"value": named["live_trigger_p50_s"]["value"], "unit": "s"},
    }

    # --- per layer -----------------------------------------------------
    layers = {}
    if ctx.trace:
        def generated(t: float) -> int:
            if t < live_start_s:
                return BACKLOG
            per_file = RATE * INTERVAL_MS / 1000.0
            files = min(live["files"], int((t - live_start_s) * 1000 // INTERVAL_MS))
            return BACKLOG + int(files * per_file)

        layers.update(phase_layers("catchup", prog, timings, broker, jobs,
                                   q_start, catchup_end, generated))
        layers.update(phase_layers("live", prog, timings, broker, jobs,
                                   live_start_s, live_end_s, generated))
        layers["gen.lateness_ms_max"] = live["lateness_ms_max"]
        trace_batches(ctx.tracer, prog, timings)

    info = {
        "valid": live["valid"],
        "setup": phases,
        "live_heap_mb": heap.samples,
        "heap_s": heap.seconds,
        "gen": {"backlog": backlog, "live": live},
        "mismatch": mismatch,
        "late_rows_dropped": dropped,
        "batches": len(prog),
        "catchup_s": catchup_s,
        "live_trigger_ms": live_trigger_ms,
    }
    if not live["valid"]:
        # the open loop fell behind: not a measurement
        failed = attempted
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "named": named, "layers": layers, "info": info}
