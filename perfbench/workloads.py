"""Workload definitions: the query mixes, the seeded op schedule and the
seeded gateway stream generator.

Everything here is a pure function of the workload seed, so the same seed
gives the same schedule and the same stream batches.
"""
import os
import random

import numpy as np

# Driver-side fixed costs dominate these: building the DataFrame on the
# driver, parquet schema inference, Catalyst, job scheduling. Three queries
# of the Relational registry and five of the Gateway registry
# (graft.operators); a short mix repeated over several rounds lets the JIT
# settle before the pass within the run time the benchmark can afford.
SHORT_QUERIES = [
    "q1_pricing_summary", "q_json_events", "q_semi_anti",
    "q_gw_auth_dispatch", "q_gw_correlate", "q_gw_msgpack_roundtrip",
    "q_gw_pipeline", "q_gw_rate_limit",
]

# LLM-pipeline queries: task execution, shuffle, the codegen kernels in
# graft.functions and the two at-rest index families (LSH pairs, IVF).
LLM_READ = [
    "q_dedup_pairs_at_rest", "q_sim_ivf_at_rest", "q_sim_mips",
    "q_dedup_winnow", "q_cms_heavy_hitters",
]

# Fixed work of a run: warm-up and pass, in rounds of the query mix or in
# stream batches. A pass holds at least 20 ops, so its median has ten
# samples above it. The first query round is cold and the JIT keeps
# compiling for a few rounds more; the second warm-up round also checks
# each query's repeated call (see Runner.QueryRun). `--seconds` does not
# size the pass: every run times the same work.
WARMUP = {"short_queries": 2, "llm_read": 2, "gw_stream": 8}
PASS = {"short_queries": 3, "llm_read": 4, "gw_stream": 20}


def schedule(workload, seed):
    """(warm-up ops, pass ops) of a run.

    Query workloads run rounds of their mix, each round in its own
    seed-shuffled order: WARMUP rounds, then PASS rounds. The stream warms
    up with WARMUP batches; each op after that adds the next batch."""
    if workload == "gw_stream":
        batches = [str(i) for i in range(WARMUP[workload] + PASS[workload])]
        return batches[:WARMUP[workload]], batches[WARMUP[workload]:]
    mix = {"short_queries": SHORT_QUERIES, "llm_read": LLM_READ}[workload]
    rng = random.Random(seed)

    def round_():
        r = list(mix)
        rng.shuffle(r)
        return r
    return ([q for _ in range(WARMUP[workload]) for q in round_()],
            [q for _ in range(PASS[workload]) for q in round_()])


# ---- gateway stream ----
T0_MS = 1_700_000_000_000
BATCH_SPAN_MS = 20_000       # event time covered by one batch
REQUESTS_PER_BATCH = 2000
ANSWERED_SHARE = 0.9         # the rest never get a response: 30 s timeout path
LATENCY_MS = (200, 2700)     # response delay in event time
ORPHANS_PER_BATCH = 40       # responses whose sn was never requested
REUSE_SHARE = 0.05           # requests that reuse an sn whose exchange ended
GW_LATE_MS = 2000            # arrival delay; below the correlator's 10 s watermark delay
CALLS_PER_BATCH = 2000
USERS = 500
ZIPF_S = 1.1
API_LATE_MS = 1500           # below the limiter's 2 s watermark delay
RATE_LIMIT = 10              # calls per user per trailing second


def _batch_of(ts, late, rng):
    return (ts - T0_MS + rng.integers(0, late, size=len(ts))) // BATCH_SPAN_MS


def gen_stream(seed, n_batches, out_dir):
    """Write batches 0..n_batches-1 plus a flush batch as CSV files and
    return the ground truth the two stream queries must reproduce.

    Events carry event times inside their batch's span, arrive up to a
    little less than the watermark delay late (so none is dropped) and are
    shuffled within their batch. A response never arrives in an earlier
    batch than its request."""
    rng = np.random.default_rng(seed)
    n = n_batches
    gw = [[] for _ in range(n)]
    pool = []  # (sn, batch whose exchange ended): free for reuse
    matched = timeout = orphans = 0
    latency_sum = 0
    for b in range(n):
        base = T0_MS + b * BATCH_SPAN_MS
        req_ts = np.sort(rng.integers(base, base + BATCH_SPAN_MS, size=REQUESTS_PER_BATCH))
        answered = rng.random(REQUESTS_PER_BATCH) < ANSWERED_SHARE
        lat = rng.integers(LATENCY_MS[0], LATENCY_MS[1] + 1, size=REQUESTS_PER_BATCH)
        req_b = np.minimum(_batch_of(req_ts, GW_LATE_MS, rng), n - 1)
        resp_ts = req_ts + lat
        resp_b = np.minimum(np.maximum(_batch_of(resp_ts, GW_LATE_MS, rng), req_b), n - 1)
        # an sn is reused only once its earlier exchange ended 3+ batches ago
        free = [sn for sn, done in pool if done <= b - 3]
        reuse = rng.random(REQUESTS_PER_BATCH) < REUSE_SHARE
        free_iter = iter(rng.permutation(free).tolist())
        pool = [(sn, done) for sn, done in pool if done > b - 3]
        for i in range(REQUESTS_PER_BATCH):
            sn = next(free_iter, None) if reuse[i] else None
            sn = sn or f"s{b}_{i}"
            gw[req_b[i]].append((sn, "request", int(req_ts[i])))
            if answered[i]:
                gw[resp_b[i]].append((sn, "response", int(resp_ts[i])))
                matched += 1
                latency_sum += int(lat[i])
                pool.append((sn, int(resp_b[i])))
            else:
                timeout += 1
        pool += [(sn, b) for sn in free_iter]  # unused this batch
        o_ts = rng.integers(base, base + BATCH_SPAN_MS, size=ORPHANS_PER_BATCH)
        o_b = np.minimum(_batch_of(o_ts, GW_LATE_MS, rng), n - 1)
        for i in range(ORPHANS_PER_BATCH):
            gw[o_b[i]].append((f"o{b}_{i}", "response", int(o_ts[i])))
        orphans += ORPHANS_PER_BATCH

    pmf = 1.0 / np.arange(1, USERS + 1) ** ZIPF_S
    pmf /= pmf.sum()
    api = [[] for _ in range(n)]
    calls_by_user = {}
    for b in range(n):
        base = T0_MS + b * BATCH_SPAN_MS
        ts = rng.integers(base, base + BATCH_SPAN_MS, size=CALLS_PER_BATCH)
        users = rng.choice(USERS, size=CALLS_PER_BATCH, p=pmf) + 1
        bb = np.minimum(_batch_of(ts, API_LATE_MS, rng), n - 1)
        for u, t, k in zip(users.tolist(), ts.tolist(), bb.tolist()):
            api[k].append((u, t))
            calls_by_user.setdefault(u, []).append(t)

    n_events = n_denied = max_calls = denied_user_sum = 0
    for u, ts in calls_by_user.items():
        t = np.sort(np.array(ts))
        c = np.searchsorted(t, t, "right") - np.searchsorted(t, t - 1000, "left")
        d = int((c > RATE_LIMIT).sum())
        n_events += len(t)
        n_denied += d
        denied_user_sum += d * u
        max_calls = max(max_calls, int(c.max()))

    os.makedirs(out_dir, exist_ok=True)
    end = T0_MS + n * BATCH_SPAN_MS + 600_000
    batches = [(str(b), gw[b], api[b]) for b in range(n)]
    batches.append(("flush", [("flush", "request", end)], [(-1, end)]))
    for name, g, a in batches:
        order = rng.permutation(len(g))
        with open(os.path.join(out_dir, f"gw_{name}.csv"), "w") as f:
            f.writelines(f"{g[i][0]},{g[i][1]},{g[i][2]}\n" for i in order)
        order = rng.permutation(len(a))
        with open(os.path.join(out_dir, f"api_{name}.csv"), "w") as f:
            f.writelines(f"{a[i][0]},{a[i][1]}\n" for i in order)
    # the correlator reports latency -1 for every unmatched outcome
    return {
        "correlator": {"matched": [matched, latency_sum], "timeout": [timeout, -timeout],
                       "unmatched_response": [orphans, -orphans]},
        "limiter": {"n_events": n_events, "max_calls_1s": max_calls,
                    "n_denied": n_denied, "denied_user_sum": denied_user_sum},
    }
