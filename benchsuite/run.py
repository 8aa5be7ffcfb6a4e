#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchsuite/run.py --workload {search-mix,ingest-serve} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  One run:

1. ``SESSION_STARTS - 1`` more cold Spark session start
   (``session_start.py``), in a child process of its own;
2. the Spark phase (``phases.py spark``) in a child process: session
   start, corpus, build, bulk queries and streaming ingest; the child
   exits, so no Spark JVM is alive while serving is timed;
3. ``ServeDaemon`` in a process group of its own (``daemon_main.py``),
   started ``DAEMON_SPAWNS`` times; the last one serves;
4. warm-up, then an open loop at a fixed rate for S seconds and a closed
   loop with ``nproc`` clients for 0.5 S seconds, from this process's
   ``nproc`` threads;
5. correctness checks against the oracle, the bulk plane and (ingest-serve)
   a single-shot build, outside every timed region;
6. with ``--trace 1``, the in-process replay (``phases.py replay``).

Prints the host stamp as one JSON line and, as the last line, the result
``{"correct", "attempted", "failed", "metrics"}``: the BENCHMARK.json
``end_to_end`` metrics with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``.  Everything the run writes stays under ``.benchsuite_work/``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("search-mix", "ingest-serve")
NPROC = os.cpu_count() or 1

# setup_s is the median session start plus the median daemon spawn; a
# session start costs about 6 s of a run of about a minute, so two samples
SESSION_STARTS = 2        # the Spark phase's own start and one more
DAEMON_SPAWNS = 3         # the last one serves
# open-loop arrival rates, each about a quarter of the workload's
# closed-loop capacity on a 4-core host (README.md)
OPEN_RATE_QPS = {"search-mix": 55.0, "ingest-serve": 12.0}
LIMIT_MS = 500.0          # a failed request counts as this plus its time
# the load generator ran behind schedule when its late p99 exceeds this
# share of the arrival interval; every open-loop request later than that
# then counts as a failed operation, as its latency would time the
# generator.  A lone late send behind slow replies on every thread is the
# program's own latency, timed from the due time like any other.
LATE_LIMIT_SHARE = 0.5
# a traced run whose spans cost more than this share of the traced walls
# counts one failed operation
TRACE_OVERHEAD_LIMIT = 0.05
REQUEST_TIMEOUT_S = 10.0
WARMUP_MISS = 32          # fresh miss queries sent before timing starts
REPLAY_MAX = 800          # traced replay: leading requests of the stream
CHILD_TIMEOUT_S = 150
CLOSED_SHARE = 0.5        # closed loop length, as a share of --seconds
CLOSED_WINDOWS = 4


def _log(log, msg: str) -> None:
    log.write(f"[run {time.strftime('%H:%M:%S')}] {msg}\n")
    log.flush()


def _fail(msg: str) -> None:
    print(f"benchsuite: {msg}", file=sys.stderr)
    sys.exit(2)


def _spec() -> dict:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _host_stamp() -> dict:
    sys.path.insert(0, os.getcwd())
    import bench

    return {"nproc": NPROC, "loadavg": list(os.getloadavg()),
            "cpu_calibration_s": bench.cpu_calibration()}


def _child_env(work: str) -> dict:
    """Environment of every child: temp files of Python, Spark and each
    JVM (the launcher JVM included) stay inside the work dir."""
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               PYTHONPATH=os.getcwd(), PYTHONDONTWRITEBYTECODE="1")
    return env


def _percentile(vals: list[float], q: float) -> float:
    s = sorted(vals)
    return s[min(len(s) - 1, max(0, round(q * (len(s) - 1))))]


def _http(port: int, method: str, path: str, body=None):
    """-> (status, parsed JSON); raises OSError/HTTPException on refusal,
    reset or timeout."""
    conn = http.client.HTTPConnection("127.0.0.1", port,
                                      timeout=REQUEST_TIMEOUT_S)
    try:
        payload = None if body is None else json.dumps(body)
        conn.request(method, path, body=payload,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, json.loads(data) if data else None
    finally:
        conn.close()


def _search(port: int, body: dict):
    """-> parsed reply, or None for a failed request."""
    try:
        status, reply = _http(port, "POST", "/search", body)
    except (OSError, http.client.HTTPException, ValueError):
        return None
    return reply if status == 200 else None


def _group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue  # process ended while being read
        if int(pgrp) == pgid and state != "Z":
            out.append(int(pid))
    return out


def _reap_group(pgid: int, timeout_s: float = 10.0) -> None:
    """Kill what is left of group ``pgid`` (Spark's JVM and Python workers
    are grandchildren) and wait until none of it runs."""
    end = time.monotonic() + timeout_s
    while _group_pids(pgid) and time.monotonic() < end:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


class Daemon:
    """One ``ServeDaemon`` process group, ready when ``/stats`` answers."""

    def __init__(self, phase_json: str, env: dict, log) -> None:
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "daemon_main.py"), phase_json],
            stdout=subprocess.PIPE, stderr=log, env=env,
            start_new_session=True, text=True,
        )
        try:
            ready, _w, _x = select.select([self.proc.stdout], [], [], 60)
            line = self.proc.stdout.readline() if ready else ""
            if not line.strip().isdigit():
                raise RuntimeError("daemon did not report a port")
            self.port = int(line)
            while True:
                try:
                    if _http(self.port, "GET", "/stats")[0] == 200:
                        break
                except OSError:
                    pass
                if time.perf_counter() - t0 > 60:
                    raise RuntimeError("daemon did not answer /stats")
                time.sleep(0.005)
        except BaseException:
            self.stop()
            raise
        self.ready_s = time.perf_counter() - t0

    def stats(self) -> dict:
        return _http(self.port, "GET", "/stats")[1]

    def rss_mb(self) -> float:
        """Resident memory of every process in the daemon's group."""
        total_kb = 0
        for pid in _group_pids(self.proc.pid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total_kb += int(line.split()[1])
            except (OSError, ValueError):
                continue  # process ended while being read
        return total_kb / 1024.0

    def stop(self) -> None:
        for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                self.proc.wait(wait_s)
                break
            except subprocess.TimeoutExpired:
                continue
        self.proc.wait()
        self.proc.stdout.close()
        _reap_group(self.proc.pid)


def _run_threads(n: int, target) -> None:
    threads = [threading.Thread(target=target) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def send_all(port: int, bodies: list[dict]) -> list:
    """Send every body once from ``NPROC`` threads.  -> the replies in
    order, None for a failed request."""
    out: list = [None] * len(bodies)
    lock = threading.Lock()
    todo = iter(range(len(bodies)))

    def worker():
        while True:
            with lock:
                i = next(todo, None)
            if i is None:
                return
            out[i] = _search(port, bodies[i])

    _run_threads(NPROC, worker)
    return out


def open_loop(port: int, reqs: list, rate: float) -> list:
    """Send ``reqs[i]`` at ``t0 + i / rate`` from ``NPROC`` threads; every
    latency is timed from the request's due time.  -> one
    ``(cls, due, sent, done, server_ms)`` per request, ``server_ms`` being
    the daemon's own time for it, None for a failed request."""
    out: list = [None] * len(reqs)
    lock = threading.Lock()
    nxt = [0]
    t0 = time.perf_counter() + 0.05

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(reqs):
                return
            due = t0 + i / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            reply = _search(port, reqs[i][2])
            out[i] = (reqs[i][0], due, sent, time.perf_counter(),
                      reply["latency_ms"] if reply else None)

    _run_threads(NPROC, worker)
    return out


def closed_loop(port: int, stream, seconds: float) -> tuple[float, int]:
    """``NPROC`` clients, each sending its next request when the previous
    one completes.  -> (median completions/s over ``CLOSED_WINDOWS`` equal
    windows, requests sent).  The median keeps a burst of foreign load on
    the host from setting the result."""
    lock = threading.Lock()
    window_s = seconds / CLOSED_WINDOWS
    done = [0] * CLOSED_WINDOWS
    sent = [0, 0]   # requests sent, requests failed
    t0 = time.perf_counter()
    end = t0 + seconds

    def worker():
        while time.perf_counter() < end:
            with lock:
                req = stream.next()
                sent[0] += 1
            ok = _search(port, req[2]) is not None
            w = int((time.perf_counter() - t0) / window_s)
            with lock:
                if not ok:
                    sent[1] += 1
                elif w < CLOSED_WINDOWS:
                    done[w] += 1

    _run_threads(NPROC, worker)
    return statistics.median(done) / window_s, sent


def _same_rows(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        int(g[0]) == int(w[0]) and abs(float(g[1]) - float(w[1])) < 1e-9
        for g, w in zip(got, want)
    )


def check_results(port: int, workload: str, checks: dict) -> tuple[int, int]:
    """-> (attempted, wrong-or-failed) over every correctness check."""
    bodies, wants = [], []
    for q, want in checks["oracle"]:
        bodies.append({"query_text": q, "mode": "OR", "k": 10})
        wants.append(want)
    if workload == "search-mix":
        for q, want in checks["wand"]:
            body = {k: q[k] for k in ("query_text", "lang", "k", "mode")}
            body["slop"] = q.get("slop", 8)
            bodies.append(body)
            wants.append([[d, s] for _r, d, s in want])
    bad = 0
    for reply, want in zip(send_all(port, bodies), wants):
        got = ([[r["doc_id"], r["score"]] for r in reply["results"]]
               if reply else None)
        bad += got is None or not _same_rows(got, want)
    attempted = len(bodies)
    if workload == "ingest-serve":
        attempted += checks["parity_queries"] + 1
        bad += checks["parity_mismatches"]
        bad += checks["dedup_dropped"] != checks["redelivered"]
    return attempted, bad


def serve(workload: str, seed: int, seconds: float, work: str, phase: dict,
          env: dict, log) -> dict:
    sys.path.insert(0, HERE)
    import inputs

    phase_json = os.path.join(work, "phase.json")
    ready = []
    for _ in range(DAEMON_SPAWNS - 1):
        d = Daemon(phase_json, env, log)
        ready.append(d.ready_s)
        d.stop()
    daemon = Daemon(phase_json, env, log)
    ready.append(daemon.ready_s)
    _log(log, f"daemon ready x{len(ready)}: {ready}")
    try:
        if workload == "search-mix":
            hot_share, kinds = inputs.HOT_SHARE_SEARCH_MIX, inputs.MISS_KINDS
        else:
            hot_share, kinds = 0.0, inputs.MISS_KINDS_NO_FUZZY
        stream = inputs.QueryStream(seed, hot_share, phase["repos"], kinds)
        warm = (list(stream.hot) if hot_share else []) + [
            stream.miss() for _ in range(WARMUP_MISS)]
        rate = OPEN_RATE_QPS[workload]
        timed = stream.take(round(rate * seconds))
        warm_failed = sum(
            r is None for r in send_all(daemon.port, [r[2] for r in warm]))

        _log(log, "warm-up done")
        recs = open_loop(daemon.port, timed, rate)
        _log(log, "open loop done")
        st_open = daemon.stats()
        capacity, (closed_sent, closed_failed) = closed_loop(
            daemon.port, stream, seconds * CLOSED_SHARE)
        st_end = daemon.stats()
        _log(log, "closed loop done")
        rss = daemon.rss_mb()
        check_attempted, check_bad = check_results(
            daemon.port, workload, phase["checks"])
    finally:
        daemon.stop()
    _log(log, "checks done, daemon stopped")

    late_ms = [(s - d) * 1e3 for _c, d, s, _e, _srv in recs]
    late_limit_ms = LATE_LIMIT_SHARE / rate * 1e3
    behind = _percentile(late_ms, 0.99) > late_limit_ms
    lat = [(c, (e - d) * 1e3 + (LIMIT_MS if srv is None else 0.0))
           for c, d, _s, e, srv in recs]
    # client time from send minus the daemon's own time, per request
    http_ms = [(e - s) * 1e3 - srv for _c, _d, s, e, srv in recs
               if srv is not None]
    open_failed = sum(r[-1] is None or (behind and late > late_limit_ms)
                      for r, late in zip(recs, late_ms))
    _log(log, f"failed: warm-up {warm_failed}, open loop {open_failed} "
         f"({sum(r[-1] is None for r in recs)} without a 200 reply), closed "
         f"loop {closed_failed}, checks {check_bad}; sends late p99 "
         f"{_percentile(late_ms, 0.99):.1f} ms, max {max(late_ms):.1f} ms, "
         f"limit {late_limit_ms:.1f} ms")
    all_ms = [v for _c, v in lat]
    miss_ms = [v for c, v in lat if c == "miss"]
    hot_ms = [v for c, v in lat if c == "hot"]
    lru = st_end["lru_hits"] + st_end["lru_misses"]
    dec = st_end["decoded_hits"] + st_end["decoded_misses"]
    out = {
        "e2e": {
            "search.p50_ms": _percentile(all_ms, 0.50),
            "search.miss_p50_ms": _percentile(miss_ms, 0.50),
            "search.capacity_qps": capacity,
            "serve.rss_mb": rss,
        },
        "layers": {
            "daemon.start_s": statistics.median(ready),
            "daemon.workers": st_end["workers"],
            "daemon.server_p50_ms": st_open["p50_ms"],
            "daemon.server_p99_ms": st_open["p99_ms"],
            "daemon.http_p50_ms": _percentile(http_ms, 0.5),
            "daemon.result_cache.hit_rate": st_end["result_cache_hit_rate"],
            "index.serve.term_lru.hit_rate": st_end["lru_hits"] / lru
            if lru else 0.0,
            "index.serve.decoded.hit_rate": st_end["decoded_hits"] / dec
            if dec else 0.0,
            "search.hot_p50_ms": _percentile(hot_ms, 0.50)
            if hot_ms else 0.0,
            "search.p90_ms": _percentile(all_ms, 0.90),
            "search.p99_ms": _percentile(all_ms, 0.99),
            "loadgen.late_p99_ms": _percentile(late_ms, 0.99),
        },
        "ready_s": statistics.median(ready),
        "samples": {"open": len(recs), "miss": len(miss_ms),
                    "closed": closed_sent},
        "attempted": len(warm) + len(recs) + closed_sent + check_attempted,
        "failed": warm_failed + open_failed + closed_failed + check_bad,
        "wrong": check_bad,
        "stream": (warm + timed)[:REPLAY_MAX],
    }
    return out


def _child(args: list[str], env: dict, log,
           script: str = "phases.py") -> None:
    """Run ``<script> <args>`` in a process group of its own and reap it."""
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, script),
                             *args], stdout=log, stderr=log, env=env,
                            start_new_session=True)
    try:
        code = proc.wait(CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _reap_group(proc.pid)
    if code != 0:
        raise RuntimeError(f"{script} {args[0]} exited with {code}; "
                           f"see {log.name}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir("horus_ner_spark") or not os.path.isfile("bench.py"):
        _fail("run from the root of a checkout of the engine "
              "(horus_ner_spark/ and bench.py not found)")
    spec = _spec()

    work = os.path.join(".benchsuite_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _child_env(work)
    host = {"start": _host_stamp()}
    with open(os.path.join(work, "log.txt"), "w") as log:
        for i in range(SESSION_STARTS - 1):
            _child([os.path.abspath(work), str(i)], env, log,
                   "session_start.py")
        t0 = time.perf_counter()
        _child(["spark", args.workload, str(args.seed), os.path.abspath(work),
                str(args.trace)], env, log)
        spark_wall = time.perf_counter() - t0
        _log(log, f"spark phase done in {spark_wall:.1f}s")
        with open(os.path.join(work, "phase.json")) as f:
            phase = json.load(f)
        sv = serve(args.workload, args.seed, args.seconds, work, phase, env,
                   log)
        layers = {**phase["layers"], **sv["layers"]}
        if args.trace:
            with open(os.path.join(work, "stream.json"), "w") as f:
                json.dump(sv["stream"], f)
            _child(["replay", os.path.abspath(work)], env, log)
            with open(os.path.join(work, "replay.json")) as f:
                rp = json.load(f)
            layers.update(rp["layers"])
            layers["trace.overhead_share"] = (
                (phase["trace_cost_s"] + rp["trace_cost_s"])
                / (spark_wall + rp["wall_s"])
            )
            sv["attempted"] += 1
            sv["failed"] += (layers["trace.overhead_share"]
                             > TRACE_OVERHEAD_LIMIT)
        starts = [phase["session_start_s"]]
        for i in range(SESSION_STARTS - 1):
            with open(os.path.join(work, f"session_{i}.json")) as f:
                starts.append(json.load(f))
        _log(log, f"session starts: {starts}")
        layers["session.start_s"] = statistics.median(starts)
    host["end"] = _host_stamp()

    e2e = {**phase["e2e"], **sv["e2e"],
           "setup_s": statistics.median(starts) + sv["ready_s"]}
    values = layers if args.trace else e2e
    units = spec["per_layer" if args.trace else "end_to_end"]
    missing = sorted(set(units) - set(values))
    if missing:
        _fail(f"metrics not measured: {missing}")
    print(json.dumps({"host": host, "samples": sv["samples"]}))
    print(json.dumps({
        "correct": sv["wrong"] == 0,
        "attempted": sv["attempted"],
        "failed": sv["failed"],
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in units.items()},
    }), flush=True)
    # keep the logs, spans and JSON of the run; drop its data
    for sub in ("sm", "is", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)


if __name__ == "__main__":
    main()
