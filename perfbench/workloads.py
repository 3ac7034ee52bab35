"""The benchmark's workloads: seeded inputs and run plans, and the
reduction of each run's raw samples to end-to-end metrics.

Every random choice comes from the run's seed; the engine receives only
the generated files and plan. WORKLOADS.md describes each workload.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import stats

# batch_suite: the measured queries (a fixed, family-spanning subset of
# SparkEntry.queries that fits one pass in a run, with one of the heavy
# tail and one query that runs Spark jobs while it is constructed) and
# the set-up warm-up queries, which are outside the measured set.
BATCH_QUERIES = [
    "q01_pricing_summary", "q10_request_result_join", "q54_grouping_sets",
    "q12_retry_demote_dlq", "q13_queue_depth", "q40_job_envelope",
    "q50_consumer_lag", "q23_token_counts", "q25_langid", "q26_fingerprint",
    "q28_minhash_signatures", "q156_pii_redaction", "q36_bbox_from_quad",
    "q46_ocr_tree_flatten", "q86_downmix_vad", "q62_embedding_near_dup",
    "q135_skew_report", "q144_similarity_histogram",
]
BATCH_WARMUP = ["q04_rollup_events"]
# The engine tables are the same in every batch_suite run, as a fixed
# testdata directory would be; the run's seed shuffles the query order.
BATCH_TABLES_SEED = 0
# A pass over the measured queries takes 9-18 s on 4 cores. The plan
# times as many passes as fit --seconds at that pace (at least one),
# so the count depends on the command line only, never on how fast the
# build under test runs.
BATCH_PASS_S = 10

# Percentile reported as op_tail_ms, per workload. A pass of 18 queries
# leaves four samples beyond p75 (ten would need 40 queries, which do not
# fit a run). The open loop times thousands of events, but its p99 rests
# on its one or two slowest triggers; p95 is steadier.
TAIL = {"batch_suite": 75, "stream_sessions": 95}

STREAM = {
    "sessions": 200, "zipf_s": 1.1, "silence_share": 0.3,
    "out_of_order_share": 0.1, "final_share": 0.02,
    "rate_eps": 1500, "tick_ms": 100, "open_share": 0.8, "ramp_files": 10,
    "chunk_ms": 50, "chunk_bytes": 32,
    "drain_files": 16, "drain_rows_per_file": 1000, "drain_files_per_trigger": 2,
    # two state partitions, as in StreamBench's low-latency run: with four
    # the trigger's state tasks fill every core and the figures spread
    # twice as wide across seeds
    "state_partitions": 2,
    "warm_files": 8,
}
SETUP_REPS = {"batch_suite": 3, "stream_sessions": 3}


def _chunk_table(rows):
    return pa.table({
        "sessionId": pa.array([r[0] for r in rows], pa.string()),
        "content": pa.array([r[1] for r in rows], pa.binary()),
        "offsetMs": pa.array([r[2] for r in rows], pa.int64()),
        "durationMs": pa.array([r[3] for r in rows], pa.int64()),
        "isFinal": pa.array([r[4] for r in rows], pa.bool_()),
    })


class _Sessions:
    """Seeded chunk source: Zipf-skewed sessions, each with its own
    offset clock; silent chunks drive the VAD endpoint, and a share of
    chunks close their session (isFinal)."""

    def __init__(self, rng, prefix):
        c = STREAM
        self.rng, self.prefix = rng, prefix
        w = 1.0 / np.arange(1, c["sessions"] + 1) ** c["zipf_s"]
        self.p = w / w.sum()
        self.next_offset = np.zeros(c["sessions"], dtype=np.int64)

    def chunks(self, n):
        c, rng = STREAM, self.rng
        sids = rng.choice(len(self.p), size=n, p=self.p)
        silent = rng.random(n) < c["silence_share"]
        final = rng.random(n) < c["final_share"]
        speech = rng.integers(0, 256, (n, c["chunk_bytes"]), dtype=np.uint8)
        quiet = rng.integers(0, 6, (n, c["chunk_bytes"]), dtype=np.uint8)
        rows = []
        for i, s in enumerate(sids):
            off = int(self.next_offset[s])
            self.next_offset[s] += c["chunk_ms"]
            body = quiet[i] if silent[i] else speech[i]
            rows.append((f"{self.prefix}{s}", body.tobytes(), off,
                         c["chunk_ms"], bool(final[i])))
        # out-of-order arrival inside the file: swap a share of rows
        k = int(n * c["out_of_order_share"])
        for a, b in zip(rng.integers(0, n, k), rng.integers(0, n, k)):
            rows[a], rows[b] = rows[b], rows[a]
        return rows


def _stream_inputs(data, seed, seconds):
    c = STREAM
    rng = np.random.default_rng(seed + 1)
    root = os.path.join(data, "stream")
    for sub in ("open", "drain", "warm"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    warm = _Sessions(rng, "w")
    for i in range(c["warm_files"]):
        pq.write_table(_chunk_table(warm.chunks(c["drain_rows_per_file"])),
                       os.path.join(root, "warm", f"w{i:04d}.parquet"))
    drain = _Sessions(rng, "d")
    for i in range(c["drain_files"]):
        pq.write_table(_chunk_table(drain.chunks(c["drain_rows_per_file"])),
                       os.path.join(root, "drain", f"d{i:04d}.parquet"))
    # Open loop: events arrive at `rate_eps` with uniform spacing jitter;
    # the generator delivers each tick's events as one file at the tick.
    live = _Sessions(rng, "o")
    n_files = max(2, int(seconds * c["open_share"] * 1000 / c["tick_ms"]))
    per_file = c["rate_eps"] * c["tick_ms"] // 1000
    files, events = [], []
    for k in range(n_files):
        name = f"o{k:05d}.parquet"
        due = (k + 1) * c["tick_ms"]
        pq.write_table(_chunk_table(live.chunks(per_file)),
                       os.path.join(root, "open", name))
        created = np.sort(rng.uniform(k * c["tick_ms"], due, per_file))
        events.extend((name, float(t)) for t in created)
        files.append({"name": name, "due_ms": due})
    plan = {"open_files": files,
            "drain_files_per_trigger": c["drain_files_per_trigger"],
            "state_partitions": c["state_partitions"],
            "setup_reps": SETUP_REPS["stream_sessions"]}
    return plan, {"events": events, "files": files}


def make_inputs(workload, data, seed, seconds):
    """Write the seeded inputs for `workload` under `data`; return the
    run plan for the engine and private state for `metrics`."""
    if workload == "batch_suite":
        gen.generate(data, BATCH_TABLES_SEED)
        rng = random.Random(seed)
        timed = max(1, int(seconds // BATCH_PASS_S))
        passes = []
        for _ in range(max(2, timed)):
            order = list(BATCH_QUERIES)
            rng.shuffle(order)
            passes.append(order)
        return {"queries": BATCH_QUERIES, "warmup": BATCH_WARMUP,
                "passes": passes, "timed_passes": timed,
                "setup_reps": SETUP_REPS[workload]}, {}
    if workload == "stream_sessions":
        return _stream_inputs(data, seed, seconds)
    raise ValueError(f"unknown workload {workload}")


def _layer_values(layers):
    """Reduce the engine's per-layer samples by their aggregation."""
    out = {}
    for name, v in layers.items():
        xs, agg = v["samples"], v["agg"]
        if name.endswith(".den") or not xs:
            continue
        if agg == "mean":
            out[name] = sum(xs) / len(xs)
        elif agg == "median":
            out[name] = float(np.median(xs))
        elif agg == "max":
            out[name] = max(xs)
        elif agg == "ratio":
            den = sum(layers[name + ".den"]["samples"])
            out[name] = sum(xs) / den if den else 0.0
        else:  # "value": the last sample
            out[name] = xs[-1]
    return out


def _overhead(ops):
    """Traced over untraced latency: the ratio of the two medians per
    operation key, over keys timed both ways, then the geometric mean
    across keys. Half of the keys are traced in the first pass and half
    in the second, so in the geometric mean the first pass's extra cost
    cancels."""
    by = {}
    for o in ops:
        by.setdefault(o["key"], ([], []))[1 if o["traced"] else 0].append(o["ms"])
    logs = [np.log(np.median(t) / np.median(u)) for u, t in by.values() if u and t]
    return float(np.exp(np.mean(logs))) if logs else None


def metrics(workload, result, private, oracle_failures):
    """Raw result -> (end-to-end values, per-layer values, attempted,
    failed, notes)."""
    ops = result["ops"]
    attempted = result["attempted"]
    failures = list(result["failures"])
    layers = _layer_values(result["layers"])
    notes = {}
    latencies = [o["ms"] for o in ops]

    if workload == "stream_sessions":
        ex = result["extra"]
        file_batch = {f["name"]: f["batch"] for f in ex["open_files"]}
        moved = {f["name"]: f["moved_ms"] for f in ex["open_files"]}
        ends = {b["batch"]: b["end_ms"] for b in ex["open_batches"]}
        # events of the first files ride the query's first triggers and
        # are left out of the latency sample
        ramp = {f["name"] for f in private["files"][:STREAM["ramp_files"]]}
        events = [e for e in private["events"] if e[0] not in ramp]
        latencies = stats.open_loop_latencies(events, file_batch, ends)
        late = stats.lateness({f["name"]: f["due_ms"] for f in private["files"]},
                              moved)
        layers["generator.late_ms"] = float(max(late))
        layers["source.backlog_files"] = float(
            stats.max_backlog(moved, file_batch, ends))
        # a traced run traces the open loop's odd-numbered triggers
        split = ([], [])
        for (name, _), ms in zip(events, latencies):
            split[file_batch[name] % 2].append(ms)
        layers["trace.overhead_ratio"] = float(
            np.median(split[1]) / np.median(split[0]))
        # drain rate: the median trigger's, so a stall in one trigger
        # does not move it
        rate = float(np.median([t["rows"] * 1000.0 / t["ms"]
                                for t in ex["drain_triggers"]]))
    else:
        rate = result["work_done"] / result["work_seconds"]
        layers["trace.overhead_ratio"] = _overhead(ops)
        # a wrong answer from a query makes each of its runs wrong
        for key, why in oracle_failures.items():
            n = sum(1 for o in ops if o["key"] == key) or 1
            failures.extend([why] * n)

    tail = TAIL[workload]
    s = stats.summary(latencies, tail)
    notes["latency"] = s
    e2e = {
        "setup_s": result["session_start_s"] + float(np.median(result["setup_reps_s"])),
        "op_p50_ms": s["p50"],
        "op_tail_ms": s["tail"],
        "ops_per_s": rate,
        "peak_heap_mb": result["peak_heap_mb"],
    }
    return e2e, layers, attempted, len(failures), failures, notes
